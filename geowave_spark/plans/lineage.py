"""Checkpointed lineage: resumable multi-stage pipelines with per-partition
row counters, and the one round barrier every iterative operator runs
through (:data:`LOCAL_ROUNDS` by default, a durable
:class:`RoundCheckpointer` on request — the only place that knows which).

The reference chains MapReduce jobs whose inputs/outputs are GeoWave tables
or HDFS sequence files — i.e. every analytic stage is durably checkpointed
and a failed run restarts from the last completed job
(`analytics/mapreduce/.../MapReduceJobController.java`, SURVEY.md §3.3), and
its ingest path transactionally updates row-count statistics per write
(`StatsCompositionTool.java`, A11).  This module is the Spark analog:

- each stage writes deterministic parquet under ``<root>/<stage>/`` and a
  ``_manifest.json`` recording the stage config fingerprint, total +
  per-partition row counts, schema, and wall time, committed by one
  directory rename (``_commit``, shared with the round checkpoints);
- per-partition counters come from the parquet footers (zero extra Spark
  jobs — one metadata read per file, the analog of per-tablet counts);
- on re-run, a stage whose manifest exists with a matching fingerprint is
  skipped and its checkpoint is read back — the pipeline resumes mid-flight;
  a changed fingerprint invalidates the stage and everything downstream.

At cluster scale the same layout works on any shared filesystem/object store
(the directory rename is the commit point; stage writes are idempotent because
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


def _commit(
    spark: SparkSession,
    out_dir: Path,
    tables: dict,
    manifest: dict,
    partition_by: list[str] | None = None,
    extras_fn: Callable[[dict[str, DataFrame]], dict] | None = None,
) -> tuple[dict[str, DataFrame], dict]:
    """The one commit sequence every durable write takes: each table as
    parquet under a fresh temp dir, per-file row counters from the parquet
    footers, ``_manifest.json`` written inside and renamed, then the temp
    dir renamed over ``out_dir`` (the commit point).

    ``tables`` maps a sub-path to a DataFrame, or to a callable taking the
    tables already written (in order) so a derived table builds on their
    materialized form; the sub-path ``""`` is a single table at the root.
    ``extras_fn`` runs over the written tables before the commit and its
    result becomes ``manifest["extras"]``.  Returns the tables read back
    from ``out_dir`` and the committed manifest."""
    tmp = out_dir.parent / f"_tmp_{out_dir.name}_{int(time.time() * 1000)}"
    read_back: dict[str, DataFrame] = {}
    parts: dict[str, dict[str, int]] = {}
    for sub, df in tables.items():
        if callable(df):
            df = df(read_back)
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(str(tmp / sub))
        parts[sub] = partition_counters(tmp / sub)
        read_back[sub] = spark.read.parquet(str(tmp / sub))
    if extras_fn is not None:
        manifest["extras"] = extras_fn(read_back)
    if list(parts) == [""]:
        manifest["partitions"] = parts[""]
        manifest["rows"] = sum(parts[""].values())
    else:
        manifest["partitions"] = parts
        manifest["rows"] = {sub: sum(p.values()) for sub, p in parts.items()}
    manifest["committed_at"] = time.time()
    (tmp / (MANIFEST + ".tmp")).write_text(json.dumps(manifest, indent=1, default=str))
    (tmp / (MANIFEST + ".tmp")).rename(tmp / MANIFEST)
    if out_dir.exists():
        shutil.rmtree(out_dir)
    tmp.rename(out_dir)  # directory rename commits
    return {sub: spark.read.parquet(str(out_dir / sub)) for sub in tables}, manifest


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
        out_dir = Path(self.root) / name
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
        out, m = _commit(
            self.spark,
            out_dir,
            {"": df},
            {
                "fingerprint": fp,
                "name": name,
                "config": config,
                "schema": df.schema.simpleString(),
            },
            partition_by=partition_by,
        )
        wall = time.perf_counter() - t0
        self.results.append(
            StageResult(name, out_dir, m["rows"], m["partitions"], False, wall)
        )
        return out[""]

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


class LocalRounds:
    """The default round barrier of every iterative operator: executor-local
    and not resumable.  Same interface as :class:`RoundCheckpointer`, so an
    operator runs one loop against ``checkpointer or LOCAL_ROUNDS`` and
    never asks which one it has.  Nothing is written: each round state is
    ``truncate_plan``-ed, and a staged table is ``localCheckpoint``-ed with
    its plan's estimated statistics, which join planning uses (SSSP
    broadcasts its edge table) and which cannot compound, because what a
    later round builds on a staged table passes a round barrier itself."""

    def resume(self) -> None:
        return None

    def stage(self, tag: str, build: Callable[[], DataFrame]) -> DataFrame:
        return build().localCheckpoint()

    def save_round(
        self,
        round_no: int,
        states: dict,
        extras_fn: Callable[[dict[str, DataFrame]], dict] | None = None,
    ) -> tuple[dict[str, DataFrame], dict]:
        out: dict[str, DataFrame] = {}
        for tag, df in states.items():
            out[tag] = truncate_plan(df(out) if callable(df) else df)
        return out, extras_fn(out) if extras_fn is not None else {}


LOCAL_ROUNDS = LocalRounds()


@dataclass
class RoundCheckpointer:
    """Durable round barrier for the iterative operators (connected
    components, DBSCAN label propagation, bounded SSSP, adaptive quadtree,
    the adaptive kNN rings).

    ``localCheckpoint`` truncates lineage but is executor-local: on a real
    cluster, losing one executor after round k kills the whole run.  The
    reference chains each analytic iteration through durable HDFS/table
    outputs (`MapReduceJobController.java`, SURVEY.md §3.3), so a restarted
    job resumes from the last completed iteration.  This is the Spark
    analog, with the interface of :class:`LocalRounds`:

    - ``save_round`` lands a round's state DataFrames as parquet under
      ``<root>/<job>/round_<k>/<tag>/`` with one rename-committed
      ``_manifest.json`` per round (the config fingerprint, per-tag row
      counts and per-partition counters, and caller extras such as
      convergence signatures);
    - ``stage`` lands a table under ``<job>/static/<tag>/`` once and loads
      it on every later call with the same config (a round-invariant input,
      or a round output keyed by its own tag);
    - ``resume`` returns the last committed round, so a re-run with the
      same config continues from there.

    Operators take ``checkpointer=None`` and run against
    :data:`LOCAL_ROUNDS` by default; pass an instance to trade one parquet
    write per round for mid-run durability.  Only the last ``keep_rounds``
    rounds are retained (each round supersedes the last).
    """

    spark: SparkSession
    root: str | Path
    job: str
    config: dict
    keep_rounds: int = 2
    rounds_resumed: int = 0
    rounds_written: int = 0
    stages_written: int = 0

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

    def stage(self, tag: str, build: Callable[[], DataFrame]) -> DataFrame:
        """The table committed under ``<job>/static/<tag>/`` for this
        config, or ``build()`` written there once and read back.  Round
        pruning never touches it."""
        sdir = self._dir() / "static" / tag
        mpath = sdir / MANIFEST
        if mpath.exists() and json.loads(mpath.read_text()).get("fingerprint") == self._fp():
            return self.spark.read.parquet(str(sdir))
        out, _ = _commit(
            self.spark, sdir, {"": build()}, {"fingerprint": self._fp(), "tag": tag}
        )
        self.stages_written += 1
        return out[""]

    def save_round(
        self,
        round_no: int,
        states: dict,
        extras_fn: Callable[[dict[str, DataFrame]], dict] | None = None,
    ) -> tuple[dict[str, DataFrame], dict]:
        """Write every state DataFrame for this round, commit the round
        manifest, prune superseded rounds, and return the read-back
        DataFrames (truncated lineage, durable) with the committed extras.

        ``extras_fn`` runs over the READ-BACK DataFrames before the commit
        — use it to record convergence signatures computed on the
        materialized state without re-running the round's plan.  A state
        value may also be a CALLABLE taking the dict of already-read-back
        earlier tags (insertion order), so derived states build on the
        materialized form of their inputs instead of re-running their
        plans."""
        out, m = _commit(
            self.spark,
            self._dir() / f"round_{round_no:06d}",
            states,
            {
                "fingerprint": self._fp(),
                "round": round_no,
                "tags": sorted(states),
                "extras": {},
            },
            extras_fn=extras_fn,
        )
        self.rounds_written += 1
        for rno, old in self._round_dirs():
            if rno <= round_no - self.keep_rounds:
                shutil.rmtree(old, ignore_errors=True)
        return out, m["extras"]
