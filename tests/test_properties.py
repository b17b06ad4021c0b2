"""Hypothesis property tests for the session's invariant-heavy
operators: bloom semi-join exactness, CDC chunk reassembly and the
near-dup graph's edge list and components must hold for ARBITRARY
inputs, not just the corpus shapes."""

from __future__ import annotations

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from airbnb_pyspark_jobs_spark.operators.bloom import bloom_semi_join
from airbnb_pyspark_jobs_spark.operators.corpus import cdc_chunks

_slow = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(
    fact_keys=st.lists(st.integers(-1000, 1000), min_size=1, max_size=60),
    dim_keys=st.lists(st.integers(-1000, 1000), max_size=30),
    num_bits=st.sampled_from([64, 512, 1 << 12]),
)
@_slow
def test_bloom_semi_join_always_exact(spark, fact_keys, dim_keys, num_bits):
    fact = spark.createDataFrame([(k,) for k in fact_keys], "k long")
    dim = spark.createDataFrame([(k,) for k in dim_keys], "dk long") if dim_keys else None
    if dim is None:
        return
    got = sorted(
        r.k for r in bloom_semi_join(fact, dim, "k", "dk", num_bits=num_bits, num_hashes=3).collect()
    )
    want = sorted(k for k in fact_keys if k in set(dim_keys))
    assert got == want


@given(
    text=st.text(
        alphabet=st.characters(min_codepoint=32, max_codepoint=126),
        min_size=1,
        max_size=300,
    ),
    divisor=st.sampled_from([16, 64]),
)
@_slow
def test_cdc_chunks_reassemble_losslessly(spark, text, divisor):
    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    rows = sorted(
        (r.chunk_idx, r.chunk_text, r.n_chars)
        for r in cdc_chunks(docs, k=4, divisor=divisor).collect()
    )
    assert [i for i, _t, _n in rows] == list(range(len(rows)))  # dense idxs
    assert "".join(t for _i, t, _n in rows) == text  # lossless, in order
    assert all(n == len(t) for _i, t, n in rows)


@given(
    keys=st.lists(st.integers(0, 10_000), min_size=1, max_size=80, unique=True),
    epoch=st.integers(0, 3),
    n_shards=st.sampled_from([1, 3, 8]),
)
@_slow
def test_epoch_shuffle_always_a_permutation(spark, keys, epoch, n_shards):
    """For ARBITRARY key sets: positions are exactly 0..n-1, shards are
    contiguous position ranges differing by <=1 in size, and the order
    is a pure function of (key, epoch) — independent of row order."""
    from airbnb_pyspark_jobs_spark.operators.sampling import epoch_shuffle

    df = spark.createDataFrame([(k,) for k in keys], "doc_id long")
    out = epoch_shuffle(df, "doc_id", epoch=epoch, n_shards=n_shards).collect()
    n = len(keys)
    assert sorted(r["epoch_pos"] for r in out) == list(range(n))
    sizes = {}
    for r in out:
        sizes[r["shard"]] = sizes.get(r["shard"], 0) + 1
        assert 0 <= r["shard"] < n_shards
    assert max(sizes.values()) - min(sizes.values()) <= 1
    # row-order independence: reversed input gives identical positions
    rev = epoch_shuffle(
        spark.createDataFrame([(k,) for k in reversed(keys)], "doc_id long"),
        "doc_id",
        epoch=epoch,
    ).collect()
    assert {r["doc_id"]: r["epoch_pos"] for r in rev} == {
        r["doc_id"]: r["epoch_pos"] for r in out
    }


@given(
    weights=st.lists(st.integers(1, 50), min_size=2, max_size=40),
)
@_slow
def test_cms_never_underestimates(spark, weights):
    """CMS one-sided error for ARBITRARY weighted key sets, at a w
    small enough that collisions are guaranteed."""
    from airbnb_pyspark_jobs_spark.operators.sketches import (
        cms_counters,
        cms_estimates,
    )

    rows = [(f"key{i}", w) for i, w in enumerate(weights)]
    df = spark.createDataFrame(rows, ["key", "wt"])
    counters = cms_counters(df, "key", "wt", d=3, w=4)
    est = {
        r["key"]: r["cms_est"]
        for r in cms_estimates(df.select("key"), counters, "key", d=3, w=4).collect()
    }
    for i, w in enumerate(weights):
        assert est[f"key{i}"] >= w


@given(
    scores=st.lists(
        st.tuples(
            st.sampled_from(["A", "B", "C", "D"]),
            st.floats(min_value=-20.0, max_value=0.0, allow_nan=False),
        ),
        min_size=2,
        max_size=40,
    ),
)
@_slow
def test_doremi_weights_always_a_distribution(spark, scores):
    """For ARBITRARY per-doc scores: mix weights are positive, sum to
    ~1, and the worst-fit source never gets less weight than the
    best-fit source."""
    from airbnb_pyspark_jobs_spark.operators.sampling import doremi_source_weights

    docs = spark.createDataFrame(
        [(i, src) for i, (src, _) in enumerate(scores)], ["doc_id", "source"]
    )
    sc = spark.createDataFrame(
        [(i, round(s, 4)) for i, (_, s) in enumerate(scores)],
        ["doc_id", "mean_logprob"],
    )
    rows = doremi_source_weights(docs, sc).collect()
    assert all(r.mix_weight > 0 for r in rows)
    assert abs(sum(r.mix_weight for r in rows) - 1.0) < 1e-4
    worst = max(rows, key=lambda r: r.excess)
    best = min(rows, key=lambda r: r.excess)
    assert worst.mix_weight >= best.mix_weight


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    doc_ids=st.lists(
        st.integers(min_value=0, max_value=10_000), min_size=1, max_size=40, unique=True
    ),
    buckets=st.sampled_from([1, 2, 8, 64]),
    seed=st.integers(min_value=0, max_value=3),
)
def test_vocabulary_tree_digest_is_order_and_partition_invariant(
    spark, doc_ids, buckets, seed
):
    """The two-level postings digest is a pure SET function of the
    posting list: any doc order, any partitioning, any bucket count B
    yields exactly the python-mirror digest for that B."""
    import random

    from airbnb_pyspark_jobs_spark.operators.corpus import vocabulary
    from tests.test_corpus_sampling import _tree_postings_digest

    rng = random.Random(seed)
    shuffled = list(doc_ids)
    rng.shuffle(shuffled)
    docs = spark.createDataFrame(
        [(d, "tok") for d in shuffled], "doc_id long, text string"
    ).repartition((seed % 3) + 1)
    out = vocabulary(docs, digest_buckets=buckets).collect()
    assert len(out) == 1
    assert out[0].df == len(doc_ids)
    assert out[0].postings_md5 == _tree_postings_digest(doc_ids, buckets=buckets)


_GRAPH_IDS = [f"d{i}" for i in range(8)]
_graph_id = st.sampled_from(_GRAPH_IDS)


def _py_components(doc_ids, pairs):
    """Union-find over the pairs whose two endpoints are both in
    ``doc_ids``; every doc maps to the smallest id in its component."""
    parent = {d: d for d in doc_ids}

    def find(x):
        while parent[x] != x:
            x = parent[x]
        return x

    for a, b in pairs:
        if a in parent and b in parent:
            ra, rb = find(a), find(b)
            parent[max(ra, rb)] = min(ra, rb)
    return {d: find(d) for d in doc_ids}


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    doc_ids=st.sets(_graph_id, min_size=1, max_size=6),
    pairs=st.lists(st.tuples(_graph_id, _graph_id), max_size=12),
)
# always exercised: a self-loop, a duplicate and a reversed pair, and a
# chain d3~d0~d5 through d0, which is absent from docs
@example(
    doc_ids={"d3", "d5", "d6", "d7"},
    pairs=[("d6", "d6"), ("d7", "d6"), ("d6", "d7"), ("d7", "d6"),
           ("d3", "d0"), ("d0", "d5"), ("d5", "d1")],
)
def test_dup_graph_edges_and_components_match_python(spark, doc_ids, pairs):
    """``undirected_edges`` is the set of both orientations minus
    self-loops; ``dedup_components`` is union-find over the edges whose
    endpoints are both in ``docs`` (foreign endpoints are inert)."""
    from airbnb_pyspark_jobs_spark.operators.dedupe import (
        dedup_components,
        undirected_edges,
    )

    pdf = spark.createDataFrame(pairs, "doc_id_a string, doc_id_b string")
    docs = spark.createDataFrame([(d,) for d in doc_ids], "doc_id string")
    edges = {(r.a, r.b) for r in undirected_edges(pdf, "doc_id_a", "doc_id_b").collect()}
    assert edges == {e for a, b in pairs for e in ((a, b), (b, a)) if a != b}
    comp = {r.doc_id: r.component_id for r in dedup_components(docs, pdf).collect()}
    assert comp == _py_components(doc_ids, pairs)
