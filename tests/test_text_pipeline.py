"""Training-data pipeline operators: dedup family, similarity search, text
analysis.  Properties are checked against independent numpy/python
re-implementations at sf0.001 scale (the DuckDB oracle covers sf0.01)."""

import hashlib
import random
import re

import numpy as np
import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").cache()


@pytest.fixture(scope="module")
def embs(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()


def _py_hash(s: str) -> int:
    """The shared cross-engine hash: first 15 hex chars of md5 as int."""
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _min_labels(edges) -> dict:
    """Reference labels: every node of a non-loop edge -> its component's
    minimum id, by a plain union-find."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    edge_nodes = set()
    for a, b in edges:
        if a != b:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
            edge_nodes |= {a, b}
    comps: dict = {}
    for x in edge_nodes:
        comps.setdefault(find(x), []).append(x)
    return {x: min(members) for members in comps.values() for x in members}


def _cc_dict(edges) -> dict:
    from geowave_spark.operators.dedup import connected_components

    rows = connected_components(edges).collect()
    got = {r.u: r.label for r in rows}
    assert len(got) == len(rows), "one label per node"
    return got


def _random_graph(seed: int, kind: str) -> list[tuple]:
    rng = random.Random(seed)
    chain = list(range(200))
    rng.shuffle(chain)
    edges = list(zip(chain, chain[1:]))
    base = 200
    for _ in range(4):  # stars, hub at a random position in id order
        size = rng.randint(3, 25)
        hub = base + rng.randrange(size)
        edges += [(hub, base + i) for i in range(size) if base + i != hub]
        base += size
    for _ in range(4):  # cycles
        size = rng.randint(3, 15)
        edges += [(base + i, base + (i + 1) % size) for i in range(size)]
        base += size
    edges += [(x, x) for x in rng.sample(range(base), 5)]
    edges.append((base, base))  # a node with only a self-loop is not labeled
    extra = rng.sample(edges, 20)
    edges += extra + [(v, u) for u, v in extra]
    edges = [(u, v) if rng.random() < 0.5 else (v, u) for u, v in edges]
    rng.shuffle(edges)
    if kind == "bigint":
        pool = {-(2**62), 2**62, 2**62 + 1, -1, 0}
        while len(pool) < base + 1:
            pool.add(rng.randrange(-(2**62), 2**62 + 2))
    else:
        pool = set()
        while len(pool) < base + 1:
            # U+FF21 sorts above U+1D11E in UTF-16 order, below it in code
            # points (= UTF-8 bytes, Spark's order)
            pool.add(rng.choice(["n", "N", "é", "€", "\uff21", "𝄞", ""]) + str(rng.randrange(10**6)))
    ids = sorted(pool)
    rng.shuffle(ids)
    return [(ids[u], ids[v]) for u, v in edges]


class TestDedup:
    def test_exact_groups_partition_the_table(self, spark, docs):
        from geowave_spark.operators.dedup import exact_dedup

        out = exact_dedup(docs).collect()
        assert sum(r.n_copies for r in out) == docs.count()
        assert len({r.text_md5 for r in out}) == len(out)

    def test_minhash_matches_python(self, spark, docs):
        from geowave_spark.functions.text import MOD
        from geowave_spark.operators.dedup import _A, _B, NUM_PERM, SHINGLE_N, minhash_signatures

        sample = docs.limit(5).collect()
        sig = {r.sid: r for r in minhash_signatures(docs.limit(5)).collect()}
        for row in sample:
            toks = row.text.split(" ")
            shingles = {" ".join(toks[i : i + SHINGLE_N]) for i in range(len(toks) - SHINGLE_N + 1)}
            hashes = [_py_hash(s) % MOD for s in shingles]
            for i in range(NUM_PERM):
                expect = min((_A[i] * h + _B[i]) % MOD for h in hashes) if hashes else MOD
                assert sig[row.doc_id][f"m{i}"] == expect

    def test_lsh_pairs_subset_of_exact_jaccard(self, spark, docs):
        from geowave_spark.operators.dedup import minhash_lsh_pairs, ngram_jaccard_pairs

        lsh = {(r.id_a, r.id_b) for r in minhash_lsh_pairs(docs, threshold=0.3).collect()}
        exact = {(r.id_a, r.id_b) for r in ngram_jaccard_pairs(docs, threshold=0.3).collect()}
        # every LSH-surfaced pair is jaccard-verified, so lsh ⊆ exact
        assert lsh <= exact

    def test_connected_components_match_union_find(self, spark, monkeypatch):
        """Both paths: the driver finish (default bound) and the distributed
        rounds (bound 0 forces the truncate_plan + signature loop)."""
        from geowave_spark.operators import dedup

        random.seed(13)
        nodes = [f"d{i:04d}" for i in range(150)]
        # a 40-edge chain (worst case for label propagation) + random noise
        edges = [(nodes[i], nodes[i + 1]) for i in range(40)]
        edges += [(random.choice(nodes), random.choice(nodes)) for _ in range(80)]
        df = spark.createDataFrame(edges, ["u", "v"])
        expect = _min_labels(edges)
        assert _cc_dict(df) == expect
        monkeypatch.setattr(dedup, "_LOCAL_EDGES", 0)
        assert _cc_dict(df) == expect

    @pytest.mark.parametrize("seed,kind", [(7, "bigint"), (8, "string")])
    def test_connected_components_driver_equals_rounds(self, spark, monkeypatch, seed, kind):
        """Seeded graphs (a 200-node chain, stars, cycles, self-loops,
        duplicate and reversed edges; long ids at ±2^62 and negative, or
        string ids with non-ASCII prefixes): the driver finish and the
        rounds label every node alike, keep the id type, and match a
        Python union-find."""
        from geowave_spark.operators import dedup

        edges = _random_graph(seed, kind)
        df = spark.createDataFrame(edges, f"u {kind}, v {kind}")
        expect = _min_labels(edges)
        outs = [dedup.connected_components(df)]
        monkeypatch.setattr(dedup, "_LOCAL_EDGES", 0)
        outs.append(dedup.connected_components(df))
        for out in outs:
            assert [f.dataType.simpleString() for f in out.schema] == [kind, kind]
            rows = out.collect()
            assert len(rows) == len(expect)
            assert {r.u: r.label for r in rows} == expect

    def test_connected_components_bound_and_decision_log(self, spark, monkeypatch, caplog):
        """The driver finishes at exactly ``_LOCAL_EDGES`` oriented distinct
        edges and the rounds run one below it; each call logs one line."""
        from geowave_spark.operators import dedup

        edges = [(1, 2), (2, 3), (3, 1), (2, 1), (4, 4), (5, 6), (6, 5)]
        n = len({(max(u, v), min(u, v)) for u, v in edges if u != v})
        df = spark.createDataFrame(edges, "u bigint, v bigint")
        for bound, line in (
            (n, rf"driver finish, {n} edges$"),
            (n - 1, rf"rounds, over {n - 1} edges, \d+ rounds, \d+ edges at the last round$"),
        ):
            monkeypatch.setattr(dedup, "_LOCAL_EDGES", bound)
            caplog.clear()
            with caplog.at_level("INFO", logger="geowave_spark"):
                assert _cc_dict(df) == _min_labels(edges)
            logged = [
                r.getMessage() for r in caplog.records
                if r.getMessage().startswith("connected_components: ")
            ]
            assert len(logged) == 1 and re.search(line, logged[0]), logged

    def test_dup_clusters_transitive_and_partitioning(self, spark, docs):
        """a~b and b~c must land in ONE cluster even when a and c share no
        band; cluster ids partition the corpus with consistent sizes."""
        from geowave_spark.operators.dedup import dup_clusters, minhash_lsh_pairs

        out = dup_clusters(docs, threshold=0.3).collect()
        assert len(out) == docs.count()  # every document labeled exactly once
        sizes: dict[str, int] = {}
        members: dict[str, list[str]] = {}
        for r in out:
            sizes[r.cluster_id] = r.cluster_size
            members.setdefault(r.cluster_id, []).append(r.doc_id)
        for cid, m in members.items():
            assert sizes[cid] == len(m)
            assert cid == min(m)  # canonical id is the component minimum
        # transitive closure of the pair graph: both ends of every pair
        # carry the same cluster id
        label = {r.doc_id: r.cluster_id for r in out}
        pairs = minhash_lsh_pairs(docs, threshold=0.3).collect()
        assert pairs, "fixture corpus must contain near-dup pairs"
        for p in pairs:
            assert label[p.id_a] == label[p.id_b]

    def test_hash_split_is_stable_and_exhaustive(self, spark, docs):
        """Every doc gets exactly one split; assignment is a pure function
        of doc_id — the same doc lands in the same split when the corpus
        shrinks (late-ingest stability) and fractions are near the weights."""
        from geowave_spark.operators.sampling import hash_split

        w = {"train": 0.8, "val": 0.1, "test": 0.1}
        full = {r.doc_id: r.split for r in hash_split(docs, w).select("doc_id", "split").collect()}
        assert len(full) == docs.count()
        n = len(full)
        from collections import Counter

        counts = Counter(full.values())
        assert set(counts) <= set(w)
        for name, frac in w.items():
            assert abs(counts[name] / n - frac) < 0.06  # 500-doc corpus noise
        # subset invariance: hashing half the corpus reproduces the labels
        half = hash_split(docs.limit(n // 2), w).select("doc_id", "split").collect()
        assert all(full[r.doc_id] == r.split for r in half)
        # a different salt is an independent draw: assignments actually move
        moved = hash_split(docs, w, salt="split-v2").select("doc_id", "split").collect()
        assert any(full[r.doc_id] != r.split for r in moved)

    def test_stratified_sample_rates_and_determinism(self, spark, docs):
        from geowave_spark.functions.text import lang_id, tokens
        from geowave_spark.operators.sampling import stratified_sample

        base = docs.select("doc_id", lang_id(tokens(F.col("text"))).alias("lang"))
        kept = stratified_sample(base, 0.2, strata_col="lang", per_stratum={"en": 0.5})
        again = {r.doc_id for r in kept.collect()}
        assert {r.doc_id for r in kept.collect()} == again  # deterministic
        totals = {r.lang: r.n for r in base.groupBy("lang").agg(F.count("*").alias("n")).collect()}
        got = {r.lang: r.n for r in kept.groupBy("lang").agg(F.count("*").alias("n")).collect()}
        for lang, n_total in totals.items():
            rate = 0.5 if lang == "en" else 0.2
            if n_total >= 50:
                assert abs(got.get(lang, 0) / n_total - rate) < 0.12
        # kept set is a subset: sampling never fabricates rows
        assert again <= {r.doc_id for r in base.collect()}

    def test_pack_chunk_spans_tile_docs_and_fill_chunks(self, spark, docs):
        """Per doc: spans tile [0, n_tokens) exactly (no gap, no overlap,
        ordered by chunk).  Per shard: every chunk but the last is exactly
        full — the concat-then-chunk contract."""
        from geowave_spark.operators.packing import pack_chunk_spans

        budget = 256
        out = pack_chunk_spans(docs, budget, n_shards=4).collect()
        by_doc: dict[int, list] = {}
        fill: dict[tuple, int] = {}
        for r in out:
            assert 0 <= r.tok_start < r.tok_end
            by_doc.setdefault(r.doc_id, []).append(r)
            fill[(r.shard, r.chunk_id)] = fill.get((r.shard, r.chunk_id), 0) + (
                r.tok_end - r.tok_start
            )
        n_toks = {r.doc_id: len(r.text.split(" ")) for r in docs.collect()}
        assert set(by_doc) == {d for d, n in n_toks.items() if n > 0}
        for doc_id, spans in by_doc.items():
            spans.sort(key=lambda r: r.chunk_id)
            assert spans[0].tok_start == 0
            assert spans[-1].tok_end == n_toks[doc_id]
            for a, b in zip(spans, spans[1:]):
                assert a.tok_end == b.tok_start  # contiguous, non-overlapping
                assert b.chunk_id == a.chunk_id + 1
        last_chunk = {}
        for shard, chunk in fill:
            last_chunk[shard] = max(last_chunk.get(shard, -1), chunk)
        for (shard, chunk), n in fill.items():
            if chunk != last_chunk[shard]:
                assert n == budget, f"shard {shard} chunk {chunk} holds {n}"
            else:
                assert 0 < n <= budget

    def test_pack_chunk_spans_validates_inputs(self, spark, docs):
        import pytest as _pytest

        from geowave_spark.operators.packing import pack_chunk_spans

        with _pytest.raises(ValueError, match="budget"):
            pack_chunk_spans(docs, 0)
        with _pytest.raises(ValueError, match="n_shards"):
            pack_chunk_spans(docs, 64, n_shards=0)

    def test_contamination_pairs_detect_planted_leak(self, spark):
        """A benchmark doc copied (with noise) into the corpus is flagged;
        unrelated docs are not; n_shared counts distinct shared shingles."""
        from geowave_spark.operators.dedup import SHINGLE_N, contamination_pairs

        bench_text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
        corpus_rows = [
            ("c_leak", bench_text + " extra tail tokens here"),
            ("c_clean", "completely different words nothing shared at all ok"),
        ]
        corpus = spark.createDataFrame(corpus_rows, ["doc_id", "text"])
        bench = spark.createDataFrame([("b_one", bench_text)], ["doc_id", "text"])
        got = {(r.doc_id, r.bench_id): r.n_shared for r in
               contamination_pairs(corpus, bench, min_shared=3).collect()}
        # the leak shares all 8 of the benchmark's 3-gram shingles
        bench_shingles = len(bench_text.split()) - SHINGLE_N + 1
        assert got == {("c_leak", "b_one"): bench_shingles}

    def test_simhash_deterministic_and_16bit(self, spark, docs):
        from geowave_spark.operators.dedup import simhash

        a = {(r.doc_id, r.simhash) for r in simhash(docs).collect()}
        b = {(r.doc_id, r.simhash) for r in simhash(docs).collect()}
        assert a == b
        assert all(0 <= s < (1 << 16) for _, s in a)

    def test_simhash_python_oracle_and_no_token_blowup(self, spark, docs):
        """Value check vs a python simhash AND a plan check: the 16 bit
        votes must come from conditional sums in ONE aggregate — no
        cross-join / 16x explode before the shuffle."""
        from geowave_spark.operators.dedup import SIMHASH_BITS, simhash
        from geowave_spark.functions.text import MOD

        sample = docs.limit(5).collect()
        got = {r.doc_id: r.simhash for r in simhash(docs.limit(5)).collect()}
        for row in sample:
            votes = [0] * SIMHASH_BITS
            for tok in row.text.split(" "):
                th = _py_hash(tok) % MOD
                for b in range(SIMHASH_BITS):
                    votes[b] += 1 if (th >> b) & 1 else -1
            expect = sum(1 << b for b in range(SIMHASH_BITS) if votes[b] > 0)
            assert got[row.doc_id] == expect
        plan = simhash(docs)._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoop" not in plan

    def test_ngram_jaccard_hot_shingle_cap(self, spark):
        """max_doc_freq drops boilerplate shingles: a shingle shared by every
        doc must not by itself produce candidate pairs."""
        from geowave_spark.operators.dedup import ngram_jaccard_pairs

        boiler = "all rights reserved"  # one 3-gram shared by all docs
        rows = [(i, f"unique{i} tok{i} word{i} {boiler}") for i in range(20)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        uncapped = ngram_jaccard_pairs(df, threshold=0.01)
        capped = ngram_jaccard_pairs(df, threshold=0.01, max_doc_freq=5)
        assert uncapped.count() == 20 * 19 // 2  # all pairs share the boilerplate
        assert capped.count() == 0  # cap removes the hot shingle entirely
        from geowave_spark.operators.dedup import minhash_signatures, simhash

        rows = [(1, "storm hail wind track sensor doc span region"), (2, "storm hail wind track sensor doc span region"), (3, "completely different words entirely here now")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        sig = {r.sid: tuple(r[f"m{i}"] for i in range(16)) for r in minhash_signatures(df).collect()}
        assert sig[1] == sig[2] != sig[3]
        sh = {r.doc_id: r.simhash for r in simhash(df).collect()}
        assert sh[1] == sh[2]


class TestSimilarity:
    def test_bruteforce_matches_numpy(self, spark, embs):
        from geowave_spark.operators.similarity import cosine_topk

        queries = (
            embs.filter(F.col("vec_id") % 25 == 0)
            .select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
        )
        out = cosine_topk(embs, queries, k=5)
        got = {}
        for r in out.collect():
            got.setdefault(r.qid, []).append((r.rank, r.vec_id))
        mat = np.array([r.embedding for r in embs.orderBy("vec_id").collect()], dtype=np.float64)
        ids = [r.vec_id for r in embs.orderBy("vec_id").collect()]
        norms = np.linalg.norm(mat, axis=1)
        for qid, ranked in got.items():
            qi = ids.index(qid)
            cos = (mat @ mat[qi]) / (norms * norms[qi])
            order = sorted(
                (i for i in range(len(ids)) if ids[i] != qid),
                key=lambda i: (-cos[i], ids[i]),
            )[:5]
            expect = [ids[i] for i in order]
            assert [v for _, v in sorted(ranked)] == expect

    def test_lsh_recall_reasonable(self, spark, embs):
        from geowave_spark.operators.similarity import cosine_topk, lsh_bucketed_topk

        queries = (
            embs.filter(F.col("vec_id") % 25 == 0)
            .select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
        )
        exact = {(r.qid, r.vec_id) for r in cosine_topk(embs, queries, k=5).collect()}
        # 4 sign bits on 500 vectors: ~31/bucket, 5 probes -> ~150 candidates
        approx = {
            (r.qid, r.vec_id) for r in lsh_bucketed_topk(embs, queries, k=5, bits=4).collect()
        }
        recall = len(exact & approx) / len(exact)
        assert recall >= 0.3


class TestIvf:
    def test_recall_on_clustered_vectors(self, spark):
        """IVF with a healthy nprobe recovers most true neighbors on
        clustered data (its design regime); plan is an equi-join."""
        import numpy as np

        from geowave_spark.operators.similarity import cosine_topk, ivf_topk

        rng = np.random.RandomState(5)
        centers = rng.normal(0, 5, (8, 64))
        rows = []
        vid = 0
        for c in range(8):
            for _ in range(100):
                rows.append((vid, (centers[c] + rng.normal(0, 0.5, 64)).tolist()))
                vid += 1
        corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        queries = (
            corpus.filter(F.col("vec_id") % 40 == 0)
            .select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
        )
        brute = {
            (r.qid, r.vec_id) for r in cosine_topk(corpus, queries, k=5).collect()
        }
        ivf = {
            (r.qid, r.vec_id)
            for r in ivf_topk(corpus, queries, k=5, n_centroids=16, nprobe=4).collect()
        }
        assert len(ivf & brute) >= 0.9 * len(brute)
        plan = (
            ivf_topk(corpus, queries, k=5, n_centroids=16, nprobe=4)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan

    def test_quantizer_deterministic(self, spark):
        from geowave_spark.operators.similarity import ivf_train_centroids

        embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        a = ivf_train_centroids(embs, n_centroids=8, sample_size=200)
        b = ivf_train_centroids(embs, n_centroids=8, sample_size=200)
        assert a == b and len(a) == 8


class TestEmbeddingDedup:
    def test_lsh_finds_planted_near_dups(self, spark):
        """On a corpus with genuine near-dups (small perturbations), the
        bucketed path recovers the exact pair set at the near-dup regime."""
        import numpy as np

        from geowave_spark.operators.similarity import (
            embedding_dup_pairs_exact,
            embedding_dup_pairs_lsh,
        )

        rng = np.random.RandomState(3)
        base = rng.normal(0, 1, (40, 64))
        rows = []
        vid = 0
        for i in range(40):
            rows.append((vid, base[i].tolist())); vid += 1
            if i % 4 == 0:  # plant a near-dup: tiny perturbation
                rows.append((vid, (base[i] + rng.normal(0, 0.02, 64)).tolist())); vid += 1
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        exact = {(r.id_a, r.id_b) for r in embedding_dup_pairs_exact(df, 0.95).collect()}
        lsh = {(r.id_a, r.id_b) for r in embedding_dup_pairs_lsh(df, 0.95).collect()}
        assert len(exact) >= 10  # the planted pairs are found
        assert lsh <= exact  # verify stage guarantees no false positives
        assert len(lsh) >= 0.8 * len(exact)  # near-dup recall is high

    def test_lsh_plan_no_cartesian(self, spark):
        from geowave_spark.operators.similarity import embedding_dup_pairs_lsh

        df = spark.createDataFrame([(1, [0.1] * 64)], "vec_id long, embedding array<double>")
        plan = embedding_dup_pairs_lsh(df)._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


class TestTextFunctions:
    def test_fingerprint_is_order_sensitive(self, spark):
        from geowave_spark.functions.text import doc_fingerprint, tokens

        df = spark.createDataFrame(
            [(1, "alpha beta gamma"), (2, "gamma beta alpha")], "id long, text string"
        )
        out = {r.id: r.fp for r in df.select("id", doc_fingerprint(tokens(F.col("text"))).alias("fp")).collect()}
        assert out[1] != out[2]

    def test_fingerprint_matches_python(self, spark):
        from geowave_spark.functions.text import MOD, doc_fingerprint, tokens

        text = "key agg row scan slow fast table"
        df = spark.createDataFrame([(1, text)], "id long, text string")
        (got,) = df.select(doc_fingerprint(tokens(F.col("text"))).alias("fp")).collect()[0]
        h = 0
        for t in text.split(" "):
            h = (h * 31 + _py_hash(t) % MOD) % MOD
        assert got == h

    def test_lang_id_markers(self, spark):
        from geowave_spark.functions.text import lang_id, tokens

        df = spark.createDataFrame(
            [(1, "the value of the table"), (2, "der und das ist nicht die"), (3, "le la les et est")],
            "id long, text string",
        )
        out = {r.id: r.lang for r in df.select("id", lang_id(tokens(F.col("text"))).alias("lang")).collect()}
        assert out == {1: "en", 2: "de", 3: "fr"}


class TestDsir:
    """DSIR importance resampling (operators/dsir.py)."""

    def _corpus(self, spark):
        # target-looking docs speak "alpha beta"; background speaks
        # "gamma delta"; doc 99 is a perfect mimic of the target domain
        rows = (
            [(i, "alpha beta alpha beta alpha", "tgt") for i in range(10)]
            + [(100 + i, "gamma delta gamma delta gamma", "bg") for i in range(30)]
            + [(99, "alpha beta alpha beta alpha", "bg")]
        )
        return spark.createDataFrame(rows, "doc_id long, text string, source string")

    def test_target_lookalikes_score_highest(self, spark):
        from geowave_spark.operators.dsir import dsir_importance

        docs = self._corpus(spark)
        imp = {
            r.doc_id: r.imp_q6
            for r in dsir_importance(
                docs, docs.filter("source = 'tgt'"), n_buckets=256
            ).collect()
        }
        mimic, bg = imp[99], imp[100]
        assert mimic > 0 > bg  # target n-grams up-weighted, background down
        # every target doc and the mimic share one importance (same text)
        assert len({imp[i] for i in range(10)} | {mimic}) == 1

    def test_resample_prefers_target_mass(self, spark):
        from geowave_spark.operators.dsir import dsir_resample

        docs = self._corpus(spark)
        top = dsir_resample(
            docs, docs.filter("source = 'tgt'"), k=11, n_buckets=256
        ).collect()
        # importance gap (~ millions of micro-nats) dwarfs Gumbel noise:
        # the 11 selected docs are exactly the 11 alpha-beta docs
        assert {r.doc_id for r in top} == set(range(10)) | {99}
        assert all(r.key_q6 >= r.imp_q6 - 2_000_000 for r in top)

    def test_validation(self, spark):
        import pytest as _pt

        from geowave_spark.operators.dsir import dsir_importance, dsir_resample

        docs = self._corpus(spark)
        with _pt.raises(ValueError):
            dsir_importance(docs, docs, n_buckets=1)
        with _pt.raises(ValueError):
            dsir_resample(docs, docs, k=0)


class TestBM25:
    def _docs(self, spark, texts):
        return spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id bigint, text string"
        )

    def test_matches_python_bm25(self, spark):
        import math

        from geowave_spark.operators.search import bm25_topk

        texts = [
            "cat dog cat fish",
            "dog dog dog bird bird tree tree tree tree tree",
            "cat bird",
            "tree fish fish",
            "rock rock rock",
        ]
        terms = ["cat", "tree"]
        out = bm25_topk(self._docs(spark, texts), terms, k=5).collect()

        # independent per-term replay with the documented integer scheme
        toks = [t.split(" ") for t in texts]
        n, sum_dl = len(toks), sum(len(t) for t in toks)
        exp = {}
        for term in terms:
            df = sum(1 for t in toks if term in t)
            idf = math.floor(math.log((n - df + 0.5) / (df + 0.5) + 1.0) * 1e6)
            for i, t in enumerate(toks):
                tf = t.count(term)
                if not tf:
                    continue
                rel = len(t) * n * 1_000_000 // sum_dl
                den = 10 * 1_000_000 * tf + 3 * 1_000_000 + 9 * rel
                hits, score = exp.get(i, (0, 0))
                exp[i] = (hits + 1, score + idf * 22 * tf * 1_000_000 // den)
        want = sorted(
            ((i, h, s) for i, (h, s) in exp.items()),
            key=lambda r: (-r[2], r[0]),
        )
        assert [tuple(r) for r in out] == want
        # sanity on the ordering itself: doc 0 (two cats, short) outranks
        # doc 2 (one cat) on the cat term, and every hit doc appears
        assert {r.doc_id for r in out} == set(exp)

    def test_tf_saturation_cap(self, spark):
        from geowave_spark.operators.search import bm25_topk, _TF_CAP

        texts = ["cat " * (_TF_CAP + 50) + "dog", "cat mouse"]
        out = {
            r.doc_id: r.score_micro
            for r in bm25_topk(self._docs(spark, texts), ["cat"], k=2).collect()
        }
        # capped tf means the long doc's tf term saturates; score stays
        # finite and the short focused doc can still compete
        assert set(out) == {0, 1} and all(v > 0 for v in out.values())

    def test_validation(self, spark):
        from geowave_spark.operators.search import bm25_topk

        df = self._docs(spark, ["a b"])
        with pytest.raises(ValueError):
            bm25_topk(df, [], k=3)
        with pytest.raises(ValueError):
            bm25_topk(df, ["a", "a"], k=3)
        with pytest.raises(ValueError):
            bm25_topk(df, ["a"], k=0)


class TestPmiCollocations:
    def _docs(self, spark, texts):
        return spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id bigint, text string"
        )

    def test_matches_python_replay(self, spark):
        import math
        from collections import Counter

        from geowave_spark.operators.collocate import pmi_collocations

        texts = [
            "red apple red apple blue sky",
            "blue sky blue sky red apple",
            "green leaf green leaf green leaf",
            "red sky blue apple",
        ]
        W, MC = 2, 2
        out = [tuple(r) for r in pmi_collocations(self._docs(spark, texts), W, MC, 50).collect()]

        uni, pairs = Counter(), Counter()
        ntok = 0
        for t in texts:
            ts = t.split(" ")
            ntok += len(ts)
            uni.update(ts)
            for off in range(1, W + 1):
                for i in range(len(ts) - off):
                    pairs[tuple(sorted((ts[i], ts[i + off])))] += 1
        npairs = sum(pairs.values())
        want = []
        for (a, b), c in pairs.items():
            if c < MC:
                continue
            pmi = math.floor(math.log((c * ntok * ntok) / (npairs * uni[a] * uni[b])) * 1e6)
            want.append((a, b, c, pmi))
        want.sort(key=lambda r: (-r[3], r[0], r[1]))
        assert out == want
        # the repeated bigram "green leaf" must rank top (pure phrase)
        assert out[0][:2] == ("green", "leaf")

    def test_window_widens_pairs(self, spark):
        from geowave_spark.operators.collocate import pmi_collocations

        texts = ["a x b"] * 3
        # (a, b) are 2 apart: invisible at window 1, visible at window 2
        w1 = {(r.term_a, r.term_b) for r in pmi_collocations(self._docs(spark, texts), 1, 2, 50).collect()}
        w2 = {(r.term_a, r.term_b) for r in pmi_collocations(self._docs(spark, texts), 2, 2, 50).collect()}
        assert ("a", "b") not in w1 and ("a", "b") in w2

    def test_validation(self, spark):
        from geowave_spark.operators.collocate import pmi_collocations

        df = self._docs(spark, ["a b"])
        for kwargs in ({"window": 0}, {"min_count": 0}, {"k": 0}):
            with pytest.raises(ValueError):
                pmi_collocations(df, **kwargs)


class TestTfidfKeywords:
    def test_matches_python_replay(self, spark):
        import math
        from collections import Counter

        from geowave_spark.operators.search import tfidf_top_terms

        texts = [
            "apple apple apple banana common common",
            "banana banana cherry common common",
            "cherry cherry cherry apple common",
        ]
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id bigint, text string"
        )
        out = sorted(tuple(r) for r in tfidf_top_terms(df, 2).collect())

        toks = [t.split(" ") for t in texts]
        dfc = Counter()
        for t in toks:
            dfc.update(set(t))
        want = []
        for i, t in enumerate(toks):
            scores = [
                (term, c, c * math.floor(math.log(len(toks) / dfc[term]) * 1e6))
                for term, c in Counter(t).items()
            ]
            scores.sort(key=lambda r: (-r[2], r[0]))
            for rank, (term, c, s) in enumerate(scores[:2], 1):
                want.append((i, term, c, s, rank))
        assert out == sorted(want)
        # 'common' appears in every doc -> idf 0 -> never a top keyword
        assert all(r[1] != "common" for r in out)

    def test_validation(self, spark):
        from geowave_spark.operators.search import tfidf_top_terms

        df = spark.createDataFrame([(0, "a b")], "doc_id bigint, text string")
        with pytest.raises(ValueError):
            tfidf_top_terms(df, 0)
