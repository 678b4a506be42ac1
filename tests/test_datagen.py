"""Fixtures follow their generators: ``_MANIFEST`` records a fingerprint of
each fixture's generator inputs, and a changed input regenerates it."""

from __future__ import annotations

from pathlib import Path

import pyarrow.parquet as pq

from geowave_spark import datagen
from geowave_spark.functions import geotiff


def test_changed_fingerprint_input_rebuilds_fixture(tmp_path, monkeypatch):
    out = datagen.ensure_geotiffs("sf0.001", tmp_path)
    assert set(datagen._manifest(out)) == {"tables", "coverages", "geotiffs"}

    def mtimes():
        return {f.name: f.stat().st_mtime_ns for f in out.glob("*.parquet")}

    # unchanged inputs: every file is reused
    before = mtimes()
    datagen.ensure_geotiffs("sf0.001", tmp_path)
    assert mtimes() == before

    # an edited encoder (the stale PackBits blob case) rebuilds only the TIFFs
    edited = tmp_path / "geotiff.py"
    edited.write_bytes(Path(geotiff.__file__).read_bytes() + b"\n# edited\n")
    monkeypatch.setattr(geotiff, "__file__", str(edited))
    datagen.ensure_geotiffs("sf0.001", tmp_path)
    after = mtimes()
    assert {n for n in after if after[n] != before[n]} == {"geotiffs.parquet"}

    # a changed scale rebuilds the tables and everything derived from them
    monkeypatch.setitem(datagen.SCALES, "sf0.001", {**datagen.SCALES["sf0.001"], "points": 300})
    datagen.ensure_geotiffs("sf0.001", tmp_path)
    assert pq.read_table(out / "points.parquet").num_rows == 300
    assert all(t != after[n] for n, t in mtimes().items())

    # an old manifest without fingerprints counts as stale
    (out / "_MANIFEST").write_text("docs=1000\npoints=300\n")
    before = mtimes()
    datagen.ensure_geotiffs("sf0.001", tmp_path)
    assert all(t != before[n] for n, t in mtimes().items())
