"""Session defaults: Tungsten page size against G1's region size."""

import pytest

from geowave_spark.session import tungsten_page_kib


def _g1_region_kib(heap_kib: int) -> int:
    """G1's region size for a heap: heap/2048 rounded down to a power of
    two, between 1 and 32 MiB."""
    mib = max(1, heap_kib // 1024 // 2048)
    return min(32, 1 << (mib.bit_length() - 1)) * 1024


@pytest.mark.parametrize("heap_mib", [512, 1024, 3000, 8192, 12288, 15360, 16384, 24576,
                                      32767, 49152, 65536, 262144])
def test_pages_are_not_humongous_and_cover_the_heap(heap_mib):
    heap_kib = heap_mib * 1024
    page_kib = tungsten_page_kib(f"{heap_mib}m")
    # G1 allocates an array over half a region (counting its 16-byte
    # header) as a humongous object, straight into the old generation
    assert page_kib * 1024 + 16 < _g1_region_kib(heap_kib) * 1024 / 2
    # 8,192 pages per task (Spark's page table) reach the whole heap
    assert page_kib * 8192 >= min(heap_kib, 64 * 1024**2) - 8192


@pytest.mark.parametrize("size,kib", [("8g", 1024), ("8192m", 1024), ("24G", 3072),
                                      ("16gb", 2048), ("8388608k", 1024), ("1t", 8192)])
def test_heap_size_strings(size, kib):
    assert tungsten_page_kib(size) == kib


def test_session_sets_the_page_size(spark):
    heap = spark.conf.get("spark.driver.memory")
    assert spark.conf.get("spark.buffer.pageSize") == f"{tungsten_page_kib(heap)}k"
