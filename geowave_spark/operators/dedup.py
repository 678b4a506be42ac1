"""Deduplication operators for the training-data pipeline.

Four dedup strategies over a ``documents(doc_id, text, ...)`` table, each
expressed as pure DataFrame plans (no Python in the hot path):

- **exact**: md5(text) hash-groupBy — one shuffle on a 16-byte key.
- **MinHash + LSH**: word-shingle -> NUM_PERM minhashes -> banded signature
  hashes; candidate pairs emerge from a self-equi-join on (band, band_hash)
  — the classic shingle/minhash/band/bucket-join pipeline.  At 100 TB the
  band join is the only shuffle and its key space (band_hash) is uniform by
  construction, so no salting is needed.
- **SimHash**: 16-bit sign-aggregated token hash; near-dup candidates share
  the exact simhash (Hamming-0 buckets; wider Hamming radii = join on
  simhash with one bit masked per probe).
- **n-gram Jaccard**: exact set-similarity join on shared shingles with
  ``|A ∩ B| / (|A| + |B| - |A ∩ B|)`` — the verification stage behind the
  MinHash candidates (and a standalone exact mode for small corpora).

Scale notes: every stage is a groupBy/join on uniformly-hashed keys; the
explode factor is bounded by tokens-per-doc; partial aggregation keeps the
shuffle payload at one row per (doc, shingle).  The reference engine has no
dedup surface — its closest analog is the insertion-id dedupe filter
(`core/store/.../filter/DedupeFilter.java:18-68`), which `exact_dedup`
generalizes from key-identity to content-identity.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from geowave_spark.plans.lineage import LOCAL_ROUNDS

from geowave_spark.functions.text import MOD, md5_long, tokens, word_ngrams

_log = logging.getLogger("geowave_spark")

NUM_PERM = 16
BANDS = 4
ROWS_PER_BAND = NUM_PERM // BANDS
SHINGLE_N = 3

from geowave_spark.cache import CacheRegistry

# persisted shingle tables from prior minhash_lsh_pairs calls — released on
# the next call (see geowave_spark/cache.py for the lifetime contract)
_CACHES = CacheRegistry()


def release_caches() -> None:
    _CACHES.release()

# deterministic multiplier/offset pairs for the NUM_PERM universal hashes
# h_i(x) = (A[i] * x + B[i]) mod (2^31-1); constants < 2^20 (overflow-safe)
_A = [(17 + 13 * i * i + 7 * i) % 1_000_003 + 11 for i in range(NUM_PERM)]
_B = [(29 + 31 * i * i * i + 3 * i) % 999_983 + 5 for i in range(NUM_PERM)]


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact-duplicate groups: one row per distinct text with the canonical
    (minimum) id and the duplicate count."""
    return (
        docs.select(F.col(id_col), F.md5(F.col(text_col)).alias("text_md5"))
        .groupBy("text_md5")
        .agg(F.min(id_col).alias("rep_id"), F.count("*").alias("n_copies"))
    )


def _shingles(
    docs: DataFrame, text_col: str, id_col: str, max_doc_freq: int | None = None
) -> DataFrame:
    """(id, shingle_hash) — distinct word n-gram shingles per doc.

    ``max_doc_freq`` drops shingles appearing in more than that many
    documents (one partial-agg count + broadcast anti-join).  This is the
    100 TB guard for the output-sensitive shared-shingle joins: a boilerplate
    shingle in 1% of a 10^12-doc corpus would otherwise emit ~10^18 pairs.
    Capped shingles vanish from both the intersection AND the size counts, so
    Jaccard stays internally consistent (it becomes Jaccard over the filtered
    shingle space)."""
    sh = (
        docs.select(
            F.col(id_col).alias("sid"),
            F.explode(F.array_distinct(word_ngrams(tokens(F.col(text_col)), SHINGLE_N))).alias(
                "shingle"
            ),
        )
        .withColumn("sh", md5_long(F.col("shingle")) % MOD)
        .select("sid", "sh")
    )
    if max_doc_freq is not None:
        hot = sh.groupBy("sh").agg(F.count("*").alias("_df")).filter(F.col("_df") > max_doc_freq)
        sh = sh.join(F.broadcast(hot.select("sh")), "sh", "left_anti")
    return sh


def minhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Per-doc MinHash signature (NUM_PERM mins) + per-band hashes.

    One aggregation: explode shingles, min over NUM_PERM affine hashes.
    Docs with fewer than SHINGLE_N tokens hash the empty shingle set to the
    sentinel MOD (no shingles -> signature of all-MOD).  Pass a pre-built
    ``shingles`` table to share the tokenize/explode work with a verify
    stage."""
    sh = shingles if shingles is not None else _shingles(docs, text_col, id_col)
    mins = sh.groupBy("sid").agg(
        *[
            F.min((F.lit(_A[i]) * F.col("sh") + F.lit(_B[i])) % MOD).alias(f"m{i}")
            for i in range(NUM_PERM)
        ]
    )
    # docs with no shingles still get a signature row (sentinel)
    all_ids = docs.select(F.col(id_col).alias("sid")).distinct()
    mins = all_ids.join(mins, "sid", "left").fillna({f"m{i}": MOD for i in range(NUM_PERM)})
    band_cols = []
    for b in range(BANDS):
        parts = [F.col(f"m{b * ROWS_PER_BAND + r}") for r in range(ROWS_PER_BAND)]
        band_cols.append(
            md5_long(F.concat_ws("_", *[p.cast("string") for p in parts])).alias(f"band{b}")
        )
    return mins.select("sid", *[F.col(f"m{i}") for i in range(NUM_PERM)], *band_cols)


def minhash_lsh_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
) -> DataFrame:
    """Candidate pairs from LSH banding, verified with exact Jaccard.

    Returns (id_a, id_b, jaccard) with id_a < id_b and jaccard >= threshold.
    The band join shuffles on band_hash (uniform); verification joins the
    candidate pairs back to the shingle table (two more uniform shuffles).
    The shingle table is built ONCE and persisted across the signature and
    verify stages (it is the dominant cost: tokenize + n-gram explode + md5
    over every document); the cache is released on the next call.
    """
    release_caches()
    sh = _CACHES.add(_shingles(docs, text_col, id_col).persist())
    sig = minhash_signatures(docs, text_col, id_col, shingles=sh)
    bands = sig.select(
        "sid",
        F.explode(
            F.array(*[F.struct(F.lit(b).alias("band"), F.col(f"band{b}").alias("bh")) for b in range(BANDS)])
        ).alias("e"),
    ).select("sid", F.col("e.band").alias("band"), F.col("e.bh").alias("bh"))
    left = bands.select(F.col("sid").alias("id_a"), "band", "bh")
    right = bands.select(F.col("sid").alias("id_b"), "band", "bh")
    cands = (
        left.join(right, ["band", "bh"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    return _verify_jaccard(docs, cands, text_col, id_col, threshold, shingles=sh)


def _verify_jaccard(
    docs: DataFrame,
    pairs: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float,
    shingles: DataFrame | None = None,
) -> DataFrame:
    sh = shingles if shingles is not None else _shingles(docs, text_col, id_col)
    sizes = sh.groupBy("sid").agg(F.count("*").alias("n_sh"))
    inter = (
        pairs.join(sh.withColumnRenamed("sid", "id_a"), "id_a")
        .join(sh.withColumnRenamed("sid", "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
        .filter(F.col("sh") == F.col("sh_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_int"))
    )
    out = (
        inter.join(sizes.withColumnRenamed("sid", "id_a").withColumnRenamed("n_sh", "na"), "id_a")
        .join(sizes.withColumnRenamed("sid", "id_b").withColumnRenamed("n_sh", "nb"), "id_b")
        .withColumn(
            "jaccard",
            F.col("n_int").cast("double")
            / (F.col("na") + F.col("nb") - F.col("n_int")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact all-pairs n-gram Jaccard via the shared-shingle join (no LSH):
    only pairs sharing >= 1 shingle are ever materialized, so the join is
    output-sensitive — the 100 TB-safe exact mode when shingle frequency is
    bounded.  Pass ``max_doc_freq`` to enforce that bound: shingles in more
    than that many docs are dropped before the join (see ``_shingles``)."""
    sh = _shingles(docs, text_col, id_col, max_doc_freq)
    a = sh.select(F.col("sid").alias("id_a"), "sh")
    b = sh.select(F.col("sid").alias("id_b"), "sh")
    inter = (
        a.join(b, "sh")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_int"))
    )
    sizes = sh.groupBy("sid").agg(F.count("*").alias("n_sh"))
    return (
        inter.join(sizes.withColumnRenamed("sid", "id_a").withColumnRenamed("n_sh", "na"), "id_a")
        .join(sizes.withColumnRenamed("sid", "id_b").withColumnRenamed("n_sh", "nb"), "id_b")
        .withColumn(
            "jaccard",
            F.col("n_int").cast("double")
            / (F.col("na") + F.col("nb") - F.col("n_int")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


SIMHASH_BITS = 16


def simhash(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """16-bit SimHash over token multisets (order-insensitive): bit b of the
    per-token hash votes +1/-1; the sign of the vote sum sets bit b.

    Pure Catalyst, ONE groupBy on doc_id with 16 conditional-sum aggregates
    (one per bit) — the shuffle sees exactly one row per token, not the 16x
    token-row blowup a bit-table cross-join would produce, and partial
    aggregation collapses it map-side to one 16-column row per (doc,
    partition)."""
    toks = docs.select(
        F.col(id_col).alias("sid"), F.explode(tokens(F.col(text_col))).alias("tok")
    ).withColumn("th", md5_long(F.col("tok")) % MOD)
    votes = toks.groupBy("sid").agg(
        *[
            F.sum(
                F.when(F.expr(f"(th >> {b}) & 1") == 1, F.lit(1)).otherwise(F.lit(-1))
            ).alias(f"v{b}")
            for b in range(SIMHASH_BITS)
        ]
    )
    bitvals = [
        F.when(F.col(f"v{b}") > 0, F.lit(1 << b).cast("long")).otherwise(F.lit(0).cast("long"))
        for b in range(SIMHASH_BITS)
    ]
    acc = bitvals[0]
    for bv in bitvals[1:]:
        acc = acc + bv
    return votes.select(F.col("sid").alias(id_col), acc.alias("simhash"))


def simhash_dup_groups(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Hamming-0 near-dup groups: docs sharing an identical simhash."""
    sh = simhash(docs, text_col, id_col)
    w = Window.partitionBy("simhash")
    return (
        sh.withColumn("n_bucket", F.count("*").over(w))
        .withColumn("rep_id", F.min(id_col).over(w))
        .select(id_col, "simhash", "n_bucket", "rep_id")
    )


def contamination_pairs(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_shared: int = 3,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Benchmark-contamination audit: ``(doc_id, bench_id, n_shared)`` for
    every corpus document sharing >= ``min_shared`` distinct word shingles
    with a benchmark document — the standard eval-leakage check run before
    training.  Same output-sensitive shared-shingle join as
    :func:`ngram_jaccard_pairs` (only co-occurring pairs materialize;
    ``max_doc_freq`` caps boilerplate shingles at corpus scale), but
    asymmetric: the benchmark side is small, so its shingle table broadcasts
    and the 100-TB corpus is read once, map-side."""
    ca = _shingles(corpus, text_col, id_col, max_doc_freq)
    cb = _shingles(benchmark, text_col, id_col, max_doc_freq)
    return (
        ca.join(F.broadcast(cb.withColumnRenamed("sid", "bench_id")), "sh")
        .groupBy(F.col("sid").alias(id_col), "bench_id")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


# driver-finish bound for connected_components: 2^18 oriented edges is a
# few MB of ids on the driver.  Just under it (4 vCPU, local[3]) the driver
# finish took 1.8 s on a shuffled chain and 3.2 s on random edges, where the
# distributed rounds took 24 s and 7.5 s
_LOCAL_EDGES = 1 << 18
# round bound: the rounds converge in O(log n), so hitting it is a fault
_MAX_ROUNDS = 50


def connected_components(edges: DataFrame, checkpointer=None) -> DataFrame:
    """Connected components over an undirected edge list ``(u, v)`` via
    alternating large-star / small-star rounds (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14).  Returns ``(u, label)``
    for every node that appears in any edge, where ``label`` is the MINIMUM
    node id in its component; both columns keep the edge columns' type.

    Small graphs finish on the driver: the oriented, distinct edge set is
    committed once (round -1 of the round barrier) and at most
    ``_LOCAL_EDGES + 1`` of its rows are collected.  When the whole set
    fits (at most ``_LOCAL_EDGES`` edges, a few MB of ids), a union-find on
    the driver labels it and the labels come back as a small DataFrame —
    one collect instead of several rounds of jobs.  The choice is made from
    the observed edge count, not an estimate; Python's ``<`` on ints and
    ``str`` (code-point order) is Spark's order on longs and UTF-8
    strings, so both paths give the same minimum.

    Larger graphs run the distributed rounds.  Why these and not label
    propagation: each round here is two groupBy/join passes on node keys
    and the algorithm provably converges in O(log n) rounds on ANY graph
    shape — a min-label-propagation loop needs O(diameter) rounds, and
    near-dup chains (a~b~c~... boilerplate gradients) produce long paths at
    corpus scale.  Every pass is a plain equi-join/agg on the node id
    (uniform after hashing); nothing crosses the driver but the bounded
    collect above and a per-round convergence scalar.  A run that has not
    converged after ``_MAX_ROUNDS`` rounds raises ``RuntimeError``.

    Every round goes through one barrier: ``checkpointer`` (a
    ``plans.lineage.RoundCheckpointer``) or, by default,
    ``plans.lineage.LOCAL_ROUNDS`` (``truncate_plan``, so the iterative
    plan never grows).  A durable call takes the same driver-finish rule
    after committing or resuming the edge set, and a killed run re-invoked
    with the same checkpointer config resumes from the last committed round
    instead of round 0 (the reference durably chains every analytic
    iteration — `MapReduceJobController.java`).

    Each call logs one line on the ``geowave_spark`` logger: the path
    taken, and its edge count (driver) or the bound it exceeded, the round
    count and the last round's edge count (rounds).

    Invariant carried between rounds: every edge is oriented (hi, lo) with
    ``lo < hi`` — large-star emits (v, min) with v > u >= min, small-star
    emits (x, min) with x > min — so the star-forest fixpoint IS the
    component labeling.
    """
    ck = checkpointer or LOCAL_ROUNDS
    resumed = ck.resume()
    if resumed is None:
        oriented = (
            edges.select(F.col(edges.columns[0]).alias("u"), F.col(edges.columns[1]).alias("v"))
            .filter(F.col("u") != F.col("v"))
            .select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
            .distinct()
        )
        e = ck.save_round(-1, {"edges": oriented})[0]["edges"]
        start, extras = -1, {}
    else:
        start, dfs, extras = resumed
        e = dfs["edges"]
    if extras.get("converged"):
        _log.info("connected_components: resumed converged at round %d, 0 rounds", start)
        return _cc_labels(e)
    head = e.limit(_LOCAL_EDGES + 1).collect()
    if len(head) <= _LOCAL_EDGES:
        _log.info("connected_components: driver finish, %d edges", len(head))
        return _driver_labels(e, head)
    prev_sig = tuple(extras["sig"]) if extras.get("sig") else None

    def _signature(dfs: dict) -> dict:
        # bit_xor, not sum: the edge set is distinct so xor is a sound set
        # signature, and it cannot overflow under ANSI mode
        s = dfs["edges"].agg(
            F.count("*").alias("n"), F.expr("bit_xor(xxhash64(u, v))").alias("h")
        ).first()
        sig = (s["n"], s["h"])
        return {"sig": list(sig), "converged": s["n"] == 0 or sig == prev_sig}

    for rnd in range(start + 1, _MAX_ROUNDS):
        # large-star over the symmetric closure: for each u, attach every
        # strictly larger neighbor to m = min(u, Γ(u))
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = sym.groupBy("u").agg(F.min("v").alias("mv"))
        mins = mins.select("u", F.least("u", "mv").alias("m"))
        large = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )
        # small-star: edges are (u, v<u); per u attach u and all neighbors
        # to m = min(Γ⁻(u)) — m < u so orientation is preserved.  NO
        # collect_set here: a star root's neighborhood is the whole
        # component at convergence, so materializing it as one array is an
        # OOM at 10^12 docs — emit the two edge families as a join + agg
        # instead (min is a partial agg; the skewed join key is AQE's job).
        mins2 = large.groupBy("u").agg(F.min("v").alias("m"))
        own = mins2.select("u", F.col("m").alias("v"))
        rest = (
            large.join(mins2, "u")
            .filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        saved, extras = ck.save_round(
            rnd, {"edges": own.union(rest).distinct()}, extras_fn=_signature
        )
        e = saved["edges"]
        if extras["converged"]:
            break
        prev_sig = tuple(extras["sig"])
    else:
        raise RuntimeError(
            f"connected_components did not converge within {_MAX_ROUNDS} rounds "
            "(large-star/small-star needs O(log n) rounds on any graph)"
        )
    _log.info(
        "connected_components: rounds, over %d edges, %d rounds, %d edges at the last round",
        _LOCAL_EDGES, rnd - start, extras["sig"][0],
    )
    return _cc_labels(e)


def _driver_labels(e: DataFrame, pairs: list) -> DataFrame:
    """Union-find over the collected edge list ``pairs``: ``(u, label)``
    for every node in an edge, ``label`` the component minimum, as a
    DataFrame typed like ``e``'s columns.  Linking the larger root under
    the smaller keeps every root its component's minimum."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for u, v in pairs:
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    t = e.schema["u"].dataType
    schema = StructType([StructField("u", t), StructField("label", t)])
    return e.sparkSession.createDataFrame(
        [(x, find(x)) for x in parent], schema, verifySchema=False
    )


def _cc_labels(e: DataFrame) -> DataFrame:
    # at the fixpoint every edge is (member, root); roots label themselves
    roots = e.select(F.col("v").alias("u"), F.col("v").alias("label")).distinct()
    return e.select(F.col("u"), F.col("v").alias("label")).union(roots)


def dup_clusters(
    docs: DataFrame,
    pairs: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    checkpointer=None,
) -> DataFrame:
    """Transitive near-duplicate clusters over the WHOLE corpus:
    ``(doc_id, cluster_id, cluster_size)`` for every document, where
    ``cluster_id`` is the minimum doc id reachable through the MinHash
    near-dup pair graph (transitive closure — a~b and b~c put a, b, c in
    ONE cluster even when a and c share no band) and singletons are their
    own cluster of size 1.  ``cluster_id == doc_id`` selects the canonical
    representative, the principled keep-one rule a pair-drop filter only
    approximates.

    Pass ``pairs`` to reuse an existing (id_a, id_b, ...) pair table;
    otherwise :func:`minhash_lsh_pairs` builds it at ``threshold``.
    """
    if pairs is None:
        pairs = minhash_lsh_pairs(docs, text_col, id_col, threshold)
    labels = connected_components(
        pairs.select("id_a", "id_b"), checkpointer=checkpointer
    )
    out = (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(labels.withColumnRenamed("u", "doc_id"), "doc_id", "left")
        .select("doc_id", F.coalesce("label", "doc_id").alias("cluster_id"))
    )
    sizes = out.groupBy("cluster_id").agg(F.count("*").alias("cluster_size"))
    return out.join(sizes, "cluster_id").select("doc_id", "cluster_id", "cluster_size")
