"""Checkpointed lineage: resumable multi-stage pipelines with per-partition
row counters.

The reference chains MapReduce jobs whose inputs/outputs are GeoWave tables
or HDFS sequence files — i.e. every analytic stage is durably checkpointed
and a failed run restarts from the last completed job
(`analytics/mapreduce/.../MapReduceJobController.java`, SURVEY.md §3.3), and
its ingest path transactionally updates row-count statistics per write
(`StatsCompositionTool.java`, A11).  This module is the Spark analog:

- each stage writes deterministic parquet under ``<root>/<stage>/`` and an
  atomic ``_manifest.json`` (rename-committed) recording the stage config
  fingerprint, total + per-partition row counts, schema, and wall time;
- per-partition counters come from the parquet footers (zero extra Spark
  jobs — one metadata read per file, the analog of per-tablet counts);
- on re-run, a stage whose manifest exists with a matching fingerprint is
  skipped and its checkpoint is read back — the pipeline resumes mid-flight;
  a changed fingerprint invalidates the stage and everything downstream.

At cluster scale the same layout works on any shared filesystem/object store
(manifest rename is the commit point; stage writes are idempotent because
the output path is deterministic and overwritten atomically-enough via a
fresh temp dir + rename).
"""

from __future__ import annotations

import json
import logging
import shutil
import threading
import time
from dataclasses import dataclass, field
from pathlib import Path
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

MANIFEST = "_manifest.json"

_log = logging.getLogger("geowave_spark")
_fallback_lock = threading.Lock()
_fallback_warned = False


def truncate_plan(df: DataFrame) -> DataFrame:
    """``localCheckpoint`` + drop inherited plan statistics — the round
    barrier every iterative operator must use.

    Spark's ``Dataset.localCheckpoint`` copies the PRE-checkpoint plan's
    *estimated* statistics onto the resulting LogicalRDD
    (``LogicalRDD.rewriteStatsAndConstraints``).  An iterative operator's
    next round references that LogicalRDD several times, and the size-only
    stats visitor MULTIPLIES child sizes at every join
    (``SizeInBytesOnlyStatsPlanVisitor.default``) — so the carried
    sizeInBytes BigInt multiplies its DIGIT COUNT every round.  By round
    ~10 the driver burns minutes per checkpoint inside
    ``BigInteger.multiplyToomCook3`` on million-digit integers (observed
    live in tools/movement_scale_demo.py at 4.8M pings; thread dump
    pinned the product loop).  Row counts and data are never wrong — the
    run just grinds to a driver-side halt, at ANY data scale, purely as a
    function of round count.

    Fix: materialize via ``localCheckpoint`` (which safely copies rows),
    then rebuild the DataFrame from the checkpointed RDD via
    ``internalCreateDataFrame`` — a LogicalRDD with NO inherited stats
    (default sizeInBytes; AQE re-plans every exchange from runtime sizes,
    so join strategies stay correct).  Per-round stats work is O(1)
    forever after.  Falls back to the plain checkpoint if the JVM surface
    ever drifts, and logs one warning per process when it does."""
    ck = df.localCheckpoint()
    try:
        jdf = ck._jdf
        jplan = jdf.queryExecution().analyzed()
        spark = df.sparkSession
        jnew = spark._jsparkSession.internalCreateDataFrame(
            jplan.rdd(), jdf.schema(), False
        )
        return DataFrame(jnew, spark)
    except Exception as exc:  # JVM API drift safety net
        global _fallback_warned
        with _fallback_lock:
            first, _fallback_warned = not _fallback_warned, True
        if first:
            _log.warning(
                "truncate_plan: stats-free rebuild failed (%s: %s); falling back to "
                "plain localCheckpoint, whose inherited size estimates grow every round",
                type(exc).__name__,
                exc,
            )
        return ck


def _fingerprint(obj) -> str:
    import hashlib

    return hashlib.sha256(json.dumps(obj, sort_keys=True, default=str).encode()).hexdigest()[:16]


def partition_counters(path: Path) -> dict[str, int]:
    """Per-partition (per-file) row counts from parquet footers, recursing
    into hive-style partition directories (stages written with partition_by
    put files under ``key=value/`` subtrees); keys are paths relative to the
    stage root so nested partitions stay distinguishable."""
    import pyarrow.parquet as pq

    out: dict[str, int] = {}
    for f in sorted(path.rglob("*.parquet")):
        out[str(f.relative_to(path))] = pq.read_metadata(f).num_rows
    return out


@dataclass
class StageResult:
    name: str
    path: Path
    rows: int
    partitions: dict[str, int]
    skipped: bool
    wall_s: float


@dataclass
class Pipeline:
    """A named, resumable chain of DataFrame stages.

    >>> pipe = Pipeline(spark, root="/data/checkpoints/run1")
    >>> docs = pipe.stage("extract", config, lambda: with_geometry(raw))
    >>> joined = pipe.stage("pip", cfg2, lambda: pip_join(docs, zones))
    """

    spark: SparkSession
    root: str | Path
    results: list[StageResult] = field(default_factory=list)
    # set once any stage rebuilds: every later stage in invocation order
    # depends on it and must rebuild too, whatever its own manifest says
    _dirty: bool = False

    def stage(
        self,
        name: str,
        config: dict,
        build: Callable[[], DataFrame],
        partition_by: list[str] | None = None,
    ) -> DataFrame:
        root = Path(self.root)
        out_dir = root / name
        mpath = out_dir / MANIFEST
        fp = _fingerprint({"name": name, "config": config})
        t0 = time.perf_counter()
        if not self._dirty and mpath.exists():
            m = json.loads(mpath.read_text())
            if m.get("fingerprint") == fp:
                self.results.append(
                    StageResult(
                        name, out_dir, m["rows"], m["partitions"], True, 0.0
                    )
                )
                return self.spark.read.parquet(str(out_dir))
        self._dirty = True  # this stage (and all downstream) rebuilds
        df = build()
        tmp = root / f"_tmp_{name}_{int(time.time() * 1000)}"
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(str(tmp))
        if out_dir.exists():
            shutil.rmtree(out_dir)
        tmp.rename(out_dir)
        parts = partition_counters(out_dir)
        rows = sum(parts.values())
        wall = time.perf_counter() - t0
        manifest = {
            "fingerprint": fp,
            "name": name,
            "config": config,
            "rows": rows,
            "partitions": parts,
            "schema": df.schema.simpleString(),
            "wall_s": round(wall, 3),
            "committed_at": time.time(),
        }
        tmp_m = out_dir / (MANIFEST + ".tmp")
        tmp_m.write_text(json.dumps(manifest, indent=1, default=str))
        tmp_m.rename(mpath)  # commit point
        self.results.append(StageResult(name, out_dir, rows, parts, False, wall))
        return self.spark.read.parquet(str(out_dir))

    def summary(self) -> list[dict]:
        return [
            {
                "stage": r.name,
                "rows": r.rows,
                "n_partitions": len(r.partitions),
                "skipped": r.skipped,
                "wall_s": round(r.wall_s, 3),
            }
            for r in self.results
        ]


@dataclass
class RoundCheckpointer:
    """Durable per-ROUND checkpointing for iterative operators (connected
    components, bounded SSSP, adaptive quadtree, DBSCAN label propagation).

    ``localCheckpoint`` truncates lineage but is executor-local: on a real
    cluster, losing one executor after round k kills the whole run.  The
    reference chains each analytic iteration through durable HDFS/table
    outputs (`MapReduceJobController.java`, SURVEY.md §3.3), so a restarted
    job resumes from the last completed iteration.  This is the Spark
    analog: each round's state DataFrames land as parquet under
    ``<root>/<job>/round_<k>/<tag>/`` with one rename-committed
    ``_manifest.json`` per round (recording the operator config fingerprint,
    per-tag row counts, and caller extras like convergence signatures), and
    a re-run with the same config resumes from the last committed round.

    Iterative operators accept ``checkpointer=None`` and keep the fast
    ``localCheckpoint`` path by default — pass an instance to trade one
    parquet write per round for mid-run durability.  Only the last
    ``keep_rounds`` rounds are retained (each round supersedes the last).
    """

    spark: SparkSession
    root: str | Path
    job: str
    config: dict
    keep_rounds: int = 2
    rounds_resumed: int = 0
    rounds_written: int = 0

    def _dir(self) -> Path:
        return Path(self.root) / self.job

    def _fp(self) -> str:
        return _fingerprint({"job": self.job, "config": self.config})

    def _round_dirs(self) -> list[tuple[int, Path]]:
        d = self._dir()
        if not d.exists():
            return []
        out = []
        for p in sorted(d.glob("round_*")):
            try:
                out.append((int(p.name.split("_")[1]), p))
            except (IndexError, ValueError):
                continue
        return out

    def resume(self) -> tuple[int, dict[str, DataFrame], dict] | None:
        """Latest committed round matching this config: ``(round_no,
        {tag: DataFrame}, extras)``, or None (nothing durable / config
        changed — stale state from another config is ignored)."""
        fp = self._fp()
        for rno, rdir in sorted(self._round_dirs(), reverse=True):
            mpath = rdir / MANIFEST
            if not mpath.exists():
                continue  # uncommitted (killed mid-write): skip to older
            m = json.loads(mpath.read_text())
            if m.get("fingerprint") != fp:
                return None
            dfs = {
                tag: self.spark.read.parquet(str(rdir / tag))
                for tag in m["tags"]
            }
            self.rounds_resumed = rno + 1
            return rno, dfs, m.get("extras", {})
        return None

    def save_static(
        self, tag: str, df: DataFrame, extras: dict | None = None
    ) -> tuple[DataFrame, dict]:
        """Write a round-invariant state table ONCE under
        ``<job>/static/<tag>/`` (e.g. SSSP's symmetric edge list) — round
        pruning never touches it.  Returns the read-back DataFrame + extras."""
        sdir = self._dir() / "static" / tag
        tmp = self._dir() / "static" / f"_tmp_{tag}_{int(time.time() * 1000)}"
        df.write.mode("overwrite").parquet(str(tmp))
        manifest = {
            "fingerprint": self._fp(),
            "tag": tag,
            "rows": sum(partition_counters(tmp).values()),
            "extras": extras or {},
            "committed_at": time.time(),
        }
        (tmp / (MANIFEST + ".tmp")).write_text(
            json.dumps(manifest, indent=1, default=str)
        )
        (tmp / (MANIFEST + ".tmp")).rename(tmp / MANIFEST)
        if sdir.exists():
            shutil.rmtree(sdir)
        tmp.rename(sdir)
        return self.spark.read.parquet(str(sdir)), manifest["extras"]

    def load_static(self, tag: str) -> tuple[DataFrame, dict] | None:
        sdir = self._dir() / "static" / tag
        mpath = sdir / MANIFEST
        if not mpath.exists():
            return None
        m = json.loads(mpath.read_text())
        if m.get("fingerprint") != self._fp():
            return None
        return self.spark.read.parquet(str(sdir)), m.get("extras", {})

    def save_round(
        self,
        round_no: int,
        states: dict[str, DataFrame],
        extras: dict | None = None,
        extras_fn: Callable[[dict[str, DataFrame]], dict] | None = None,
    ) -> dict[str, DataFrame]:
        """Write every state DataFrame for this round, commit the round
        manifest (rename is the commit point), prune superseded rounds, and
        return the read-back DataFrames (truncated lineage, durable).

        ``extras_fn`` runs over the READ-BACK DataFrames before the commit
        rename — use it to record convergence signatures computed on the
        materialized state without re-running the round's plan.  A state
        value may also be a CALLABLE taking the dict of already-read-back
        earlier tags (insertion order), so derived states build on the
        materialized form of their inputs instead of re-running their
        plans."""
        rdir = self._dir() / f"round_{round_no:06d}"
        tmp = self._dir() / f"_tmp_round_{round_no:06d}_{int(time.time() * 1000)}"
        rows: dict[str, int] = {}
        read_back: dict[str, DataFrame] = {}
        for tag, df in states.items():
            if callable(df):
                df = df(read_back)
            df.write.mode("overwrite").parquet(str(tmp / tag))
            rows[tag] = sum(partition_counters(tmp / tag).values())
            read_back[tag] = self.spark.read.parquet(str(tmp / tag))
        if extras_fn is not None:
            extras = {**(extras or {}), **extras_fn(read_back)}
        manifest = {
            "fingerprint": self._fp(),
            "round": round_no,
            "tags": sorted(states),
            "rows": rows,
            "extras": extras or {},
            "committed_at": time.time(),
        }
        (tmp / (MANIFEST + ".tmp")).write_text(
            json.dumps(manifest, indent=1, default=str)
        )
        if rdir.exists():
            shutil.rmtree(rdir)
        (tmp / (MANIFEST + ".tmp")).rename(tmp / MANIFEST)
        tmp.rename(rdir)  # directory rename commits the round
        self.rounds_written += 1
        for rno, old in self._round_dirs():
            if rno <= round_no - self.keep_rounds:
                shutil.rmtree(old, ignore_errors=True)
        return {
            tag: self.spark.read.parquet(str(rdir / tag)) for tag in states
        }
