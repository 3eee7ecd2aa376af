"""Operator-level behavior: joins, windows, sets, dedup, similarity."""

import datetime

from pyspark.sql import functions as F

from udacity_data_engineering_capstone_project_spark.operators.dedup import (
    exact_dedup,
    jaccard_pairs,
    minhash_lsh_pairs,
    shingle_sets,
    simhash,
)
from udacity_data_engineering_capstone_project_spark.operators.joins import asof_join
from udacity_data_engineering_capstone_project_spark.operators.aggregates import (
    pivot_wide,
)
from udacity_data_engineering_capstone_project_spark.operators.sets import (
    union_distinct,
)
from udacity_data_engineering_capstone_project_spark.operators.similarity import (
    _nearest_cells_arrow,
    brute_force_topk,
    embedding_near_dup,
)
from udacity_data_engineering_capstone_project_spark.operators.sorting import top_k
from udacity_data_engineering_capstone_project_spark.operators.windows import (
    sessionize,
)


def _ts(s):
    return datetime.datetime.fromisoformat(s)


def test_asof_join_latest_prior(spark):
    left = spark.createDataFrame(
        [(1, _ts("2024-01-01 10:00:00"), 100),
         (1, _ts("2024-01-01 12:00:00"), 101),
         (2, _ts("2024-01-01 09:00:00"), 200)],
        "k int, ts timestamp, event_id int",
    )
    right = spark.createDataFrame(
        [(1, _ts("2024-01-01 09:30:00"), 7.0),
         (1, _ts("2024-01-01 11:00:00"), 8.0),
         (2, _ts("2024-01-01 09:00:00"), 9.0)],  # same instant: inclusive
        "k int, ts timestamp, px double",
    )
    out = asof_join(left, right, on="k", left_ts="ts", right_ts="ts",
                    right_value_cols=["px"])
    got = {r.event_id: r.px_asof for r in out.collect()}
    assert got == {100: 7.0, 101: 8.0, 200: 9.0}


def test_sessionize_gap(spark):
    rows = [
        (1, _ts("2024-01-01 10:00:00"), 1),
        (1, _ts("2024-01-01 10:10:00"), 2),   # same session (10 min)
        (1, _ts("2024-01-01 11:00:00"), 3),   # 50 min gap -> new session
        (2, _ts("2024-01-01 10:00:00"), 4),
    ]
    df = spark.createDataFrame(rows, "user_id int, ts timestamp, event_id int")
    out = sessionize(df, "user_id", "ts", gap_seconds=1800, tie_break="event_id")
    got = {r.event_id: r.session_id for r in out.collect()}
    assert got[1] == got[2] == 1
    assert got[3] == 2
    assert got[4] == 1


def test_topk_deterministic_ties(spark):
    df = spark.createDataFrame(
        [(1, 5.0), (2, 5.0), (3, 4.0)], "id int, v double"
    )
    out = top_k(df, 2, F.col("v").desc(), F.col("id").asc()).collect()
    assert [(r.id, r.v) for r in out] == [(1, 5.0), (2, 5.0)]


def test_union_distinct_is_positional(spark):
    a = spark.createDataFrame([(1, "x")], "c1 int, c2 string")
    b = spark.createDataFrame([(1, "x"), (2, "y")], "d1 int, d2 string")
    out = union_distinct(a, b)
    assert out.count() == 2  # positional overlap dedups (1,'x')
    assert out.columns == ["c1", "c2"]  # left schema wins


def test_pivot_fills_missing_combinations(spark):
    df = spark.createDataFrame(
        [("g1", "A", 1), ("g1", "B", 2), ("g2", "A", 3)],
        "k string, p string, v int",
    )
    out = pivot_wide(df, ["k"], "p", ["A", "B"], F.sum("v"), fill=0)
    rows = {r.k: (r.A, r.B) for r in out.collect()}
    assert rows == {"g1": (1, 2), "g2": (3, 0)}


DOCS = [
    (1, "the quick brown fox jumps over the lazy dog again and again today"),
    (2, "the quick brown fox jumps over the lazy dog again and again tonight"),
    (3, "completely different content about spark dataframes and shuffles here"),
    (4, "the quick brown fox jumps over the lazy dog again and again today"),
]


def test_exact_dedup_groups(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    groups = exact_dedup(df, "doc_id", "text").collect()
    sizes = sorted(g.n_copies for g in groups)
    assert sizes == [1, 1, 2]
    dup = next(g for g in groups if g.n_copies == 2)
    assert dup.keep_id == 1


def test_minhash_matches_exact_jaccard(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    exact = {
        (r.doc_a, r.doc_b)
        for r in jaccard_pairs(
            shingle_sets(df, "doc_id", "text"),
            threshold_num=4,
            threshold_den=5,
        ).collect()
    }
    lsh = {
        (r.doc_a, r.doc_b)
        for r in minhash_lsh_pairs(
            df, "doc_id", "text", threshold_num=4, threshold_den=5
        ).collect()
    }
    assert exact == lsh
    assert (1, 4) in exact  # identical docs
    assert (1, 2) in exact  # near-identical (one word differs)
    assert not any(3 in p for p in exact)


def test_simhash_identical_docs_equal(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    fp = {r.doc_id: r.simhash for r in simhash(df, "doc_id", "text").collect()}
    assert fp[1] == fp[4]
    assert fp[1] != fp[3]
    assert 0 <= fp[1] < (1 << 60)


VECS = [
    (0, [1.0, 0.0, 0.0]),
    (1, [0.9, 0.1, 0.0]),
    (2, [0.0, 1.0, 0.0]),
    (3, [0.0, 0.0, 1.0]),
]


def test_brute_force_topk_ordering(spark):
    emb = spark.createDataFrame(VECS, "vec_id long, embedding array<float>")
    q = emb.filter(F.col("vec_id") == 0)
    out = brute_force_topk(q, emb, k=2).collect()
    assert [(r.neighbor_id, r.rank) for r in out] == [(1, 1), (2, 2)]
    assert out[0].cos_sim > 0.99


def test_ivf_assignment_nearest_centroid(spark):
    emb = spark.createDataFrame(VECS, "vec_id long, embedding array<float>")
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0])],
        "centroid_id int, embedding array<float>",
    )
    vecs = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    out = _nearest_cells_arrow(
        vecs, "vec_id", "v", cents, "centroid_id", "embedding", nprobe=1
    )
    got = {r.vec_id: r.centroid_id for r in out.collect()}
    assert got[0] == 0 and got[1] == 0 and got[2] == 1


def test_embedding_near_dup_finds_planted_pair(spark):
    # 16-dim: two near-identical vectors (cos ~0.999), two orthogonal-ish
    import random

    rng = random.Random(3)
    base = [rng.uniform(-1, 1) for _ in range(16)]
    near = [v + 0.01 for v in base]
    other = [rng.uniform(-1, 1) for _ in range(16)]
    far = [-v for v in base]
    emb = spark.createDataFrame(
        [(0, base), (1, near), (2, other), (3, far)],
        "vec_id long, embedding array<float>",
    )
    out = embedding_near_dup(emb, dim=16, threshold=0.95).collect()
    assert [(r.id_a, r.id_b) for r in out] == [(0, 1)]
    assert out[0].cos_r > 0.99


def test_connected_components_chain(spark):
    from udacity_data_engineering_capstone_project_spark.operators.dedup import (
        connected_components,
    )

    # chain 1-2-3-4 (needs >1 propagation round) + separate pair 9-10
    pairs = spark.createDataFrame(
        [(2, 3), (1, 2), (3, 4), (9, 10)], "doc_a long, doc_b long"
    )
    got = {r.doc: r.component for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 9: 9, 10: 9}


def test_kmeans_cosine_recovers_planted_clusters(spark):
    from udacity_data_engineering_capstone_project_spark.operators.similarity import (
        kmeans_cosine,
    )

    import random

    rng = random.Random(11)
    protos = [[10.0 if d // 5 == c else 0.0 for d in range(15)] for c in range(3)]
    rows = []
    for i in range(60):
        p = protos[i % 3]
        rows.append((i, [v + rng.uniform(-0.5, 0.5) for v in p]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = kmeans_cosine(emb, k=3, iters=4).collect()
    by_true = {}
    for r in out:
        by_true.setdefault(r.vec_id % 3, set()).add(r.cluster)
    # every planted cluster maps to exactly one learned cluster, all distinct
    assert all(len(s) == 1 for s in by_true.values())
    assert len(set.union(*by_true.values())) == 3


def test_text_profile_fused_edge_cases(spark):
    from udacity_data_engineering_capstone_project_spark.operators.textops import (
        text_profile,
    )

    docs = spark.createDataFrame(
        [
            (1, "the cat of the house and the dog is here"),  # clear en
            (2, ""),  # empty: all zeros, lang 'und'
            (3, "de la de la"),  # es/fr tie on markers -> 'es' (ascending)
            (4, "zzz qqq xyzzy!!!"),  # no marker hits -> 'und', punct > 0
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in text_profile(docs).collect()}
    assert got[1].pred_lang == "en" and got[1].lang_hits > 0
    assert got[2].pred_lang == "und"
    assert got[2].n_tokens == 0 and got[2].quality == 0
    assert got[3].pred_lang == "es"  # lexicographic tie-break
    assert got[4].pred_lang == "und"
    assert got[4].punct_x1000 > 0
    assert got[1].n_tokens == 10
    # 'the' x3 counts toward stopwords each time
    assert got[1].n_stop >= 3


def test_kmeans_pp_init_farthest_first(spark):
    from udacity_data_engineering_capstone_project_spark.operators.similarity import (
        kmeans_cosine,
        kmeans_pp_init,
    )

    # three orthogonal directions plus near-duplicates of the first;
    # farthest-first must pick one seed per direction, never two dups
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.99, 0.01, 0.0]),   # near-dup of 0
        (2, [0.0, 1.0, 0.0]),
        (3, [0.0, 0.0, 1.0]),
        (4, [0.98, 0.02, 0.0]),   # near-dup of 0
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    seeds = kmeans_pp_init(emb, k=3)
    assert len(seeds) == 3
    assert seeds[0] == [1.0, 0.0, 0.0]          # smallest id
    picked = {tuple(round(v) for v in s) for s in seeds}
    assert picked == {(1, 0, 0), (0, 1, 0), (0, 0, 1)}
    # determinism across invocations
    assert kmeans_pp_init(emb, k=3) == seeds
    # the trainer accepts the ++ init end-to-end
    out = kmeans_cosine(emb, k=3, iters=2, init="kmeans++").collect()
    clusters = {r.vec_id: r.cluster for r in out}
    assert clusters[0] == clusters[1] == clusters[4]
    assert len({clusters[0], clusters[2], clusters[3]}) == 3


def test_merge_upsert_semantics(spark):
    from udacity_data_engineering_capstone_project_spark.operators.cdc import (
        merge_upsert,
    )

    target = spark.createDataFrame(
        [(1, 10, "old"), (2, 20, "keep")], "k long, v long, tag string"
    )
    updates = spark.createDataFrame(
        [(1, 30, "new"), (1, 25, "stale"), (3, 40, "insert")],
        "k long, v long, tag string",
    )
    got = {r.k: (r.v, r.tag) for r in merge_upsert(target, updates, ["k"], ["v"]).collect()}
    assert got == {
        1: (30, "new"),      # update wins over target; latest-wins in batch
        2: (20, "keep"),     # untouched target key survives
        3: (40, "insert"),   # new key inserted
    }


def test_merge_partial_aggs(spark):
    from udacity_data_engineering_capstone_project_spark.operators.cdc import (
        merge_partial_aggs,
    )

    old = spark.createDataFrame(
        [(1, 2, 10.0), (2, 1, 5.0)], "k long, n long, s double"
    )
    delta = spark.createDataFrame(
        [(1, 3, 7.0), (3, 1, 1.0)], "k long, n long, s double"
    )
    got = {
        r.k: (r.n, r.s)
        for r in merge_partial_aggs(old, delta, ["k"], ["n", "s"]).collect()
    }
    assert got == {1: (5, 17.0), 2: (1, 5.0), 3: (1, 1.0)}


def test_heavy_hitters_exact_across_partitions(spark):
    from pyspark.sql import functions as F

    from udacity_data_engineering_capstone_project_spark.operators.aggregates import (
        heavy_hitters,
    )

    # 60% 'a', 25% 'b', 15 singletons — spread over 8 partitions so the
    # candidate sketch really runs per batch
    rows = [("a",)] * 60 + [("b",)] * 25 + [(f"x{i}",) for i in range(15)]
    df = spark.createDataFrame(rows, "v string").repartition(8)
    got = {
        r.value: r.n_occurrences
        for r in heavy_hitters(df, "v", frac_num=20, frac_den=100).collect()
    }
    assert got == {"a": 60, "b": 25}
    # threshold exactly at boundary: 15% -> a, b qualify; x* never do
    got2 = {
        r.value: r.n_occurrences
        for r in heavy_hitters(df, "v", frac_num=25, frac_den=100).collect()
    }
    assert got2 == {"a": 60, "b": 25}


def test_profile_table_nulls_and_approx(spark):
    from udacity_data_engineering_capstone_project_spark.operators.aggregates import (
        profile_table,
    )

    df = spark.createDataFrame(
        [(1.0, "a"), (None, "b"), (2.0, None), (2.0, "b")], "x double, s string"
    )
    out = {r.col_name: r for r in profile_table(df, ["x"], ["s"]).collect()}
    x = out["x"]
    assert (x.n_nonnull, x.n_null, x.n_distinct) == (3, 1, 2)
    # mean = floor(500/3 + 0.5) = 167
    assert (x.min_x100, x.max_x100, x.mean_x100) == (100, 200, 167)
    assert x.min_s is None and x.max_s is None
    s = out["s"]
    assert (s.n_nonnull, s.n_null, s.n_distinct) == (3, 1, 2)
    assert (s.min_s, s.max_s) == ("a", "b")
    assert s.min_x100 is None
    # approx (HLL) mode: the 100 TB profiling path, sanity-bounded only
    approx = {
        r.col_name: r
        for r in profile_table(df, ["x"], ["s"], exact_distinct=False).collect()
    }
    assert approx["x"].n_distinct >= 1 and approx["s"].n_distinct >= 1


def test_salted_join_rejects_outer(spark):
    import pytest

    from udacity_data_engineering_capstone_project_spark.operators.joins import (
        salted_join,
    )

    a = spark.createDataFrame([(1, "x")], "k long, v string")
    b = spark.createDataFrame([(1, "y")], "k long, w string")
    with pytest.raises(ValueError):
        salted_join(a, b, "k", how="full")
    assert salted_join(a, b, "k", how="left").count() == 1


def test_connected_components_raises_on_nonconvergence(spark):
    import pytest

    from udacity_data_engineering_capstone_project_spark.operators.dedup import (
        connected_components,
    )

    # a 1000-node path graph needs ~log2(n) alternating rounds;
    # max_iter=2 cannot converge and must raise, not silently split
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(999)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iter=2)


def test_connected_components_long_chain_converges_in_log_rounds(spark):
    """The worst case for min-label propagation (diameter ~ n): the
    large-star/small-star scheme must converge a 1000-node chain
    within the default 25-round budget (~O(log n) rounds) and label
    every node with the chain minimum."""
    from udacity_data_engineering_capstone_project_spark.operators.dedup import (
        connected_components,
    )

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(999)], "doc_a long, doc_b long"
    )
    got = {r.doc: r.component for r in connected_components(chain).collect()}
    assert got == {i: 0 for i in range(1000)}


def test_connected_components_random_graph_matches_union_find(spark):
    """Property check vs a driver-side union-find on a random sparse
    graph (seeded): every node must get the min id of its component."""
    import random

    from udacity_data_engineering_capstone_project_spark.operators.dedup import (
        connected_components,
    )

    rng = random.Random(7)
    n = 300
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(260)]
    edges = [(a, b) for a, b in edges if a != b]

    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    touched = {x for e in edges for x in e}
    expected = {x: find(x) for x in touched}

    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {r.doc: r.component for r in connected_components(df).collect()}
    assert got == expected


def test_hll_sketch_rollup_within_tolerance(spark, sf_dir):
    from pyspark.sql import functions as F

    from udacity_data_engineering_capstone_project_spark.plans.queries_llm import (
        hll_sketch_rollup,
    )
    from udacity_data_engineering_capstone_project_spark.plans.queries_parity import _t

    rows = hll_sketch_rollup(spark, sf_dir).collect()
    exact = {
        r.event_type: r.n
        for r in _t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert {r.event_type for r in rows} == set(exact)
    for r in rows:
        assert r.exact_users == exact[r.event_type]
        # lgConfigK=14 HLL: relative standard error ~0.8%; 2% is >2 sigma
        assert r.hll_within_2pct, (r.event_type, r.exact_users)
    # pin the raw estimate too (the query folds it into the flag)
    est = {
        r.event_type: r.approx_users
        for r in _t(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("d"), "event_type")
        .agg(F.expr("hll_sketch_agg(user_id, 14)").alias("sk"))
        .groupBy("event_type")
        .agg(
            F.expr("hll_sketch_estimate(hll_union_agg(sk))")
            .cast("long")
            .alias("approx_users")
        )
        .collect()
    }
    for t, n in exact.items():
        assert abs(est[t] - n) <= max(2, 0.02 * n), (t, est[t], n)


def test_pq_recall_floor(spark, sf_dir):
    """PQ (m=16, k=32, shortlist=300) with exact re-rank must keep
    recall@10 high — the quantization error budget the serving dial is
    tuned for. Floors are below the measured 1.0 to stay robust to
    fixture SF changes."""
    from udacity_data_engineering_capstone_project_spark.plans.queries_llm import (
        ann_pq_recall,
    )

    from udacity_data_engineering_capstone_project_spark.operators.similarity import (
        brute_force_topk,
    )
    from udacity_data_engineering_capstone_project_spark.plans.queries_parity import _t

    pq = {
        (r.query_id, r.neighbor_id)
        for r in ann_pq_recall(spark, sf_dir).collect()
    }
    emb = _t(spark, sf_dir, "embeddings")
    exact_rows = brute_force_topk(
        emb.filter("vec_id < 20"), emb, k=10
    ).collect()
    exact = {}
    for r in exact_rows:
        exact.setdefault(r.query_id, set()).add(r.neighbor_id)
    assert len(exact) == 20
    rc = [
        100 * len(nbrs & {n for q, n in pq if q == qid}) // len(nbrs)
        for qid, nbrs in exact.items()
    ]
    assert sum(rc) / len(rc) >= 90
    assert min(rc) >= 70


def test_pq_encode_codes_in_range(spark, sf_dir):
    from udacity_data_engineering_capstone_project_spark.operators.similarity import (
        pq_encode,
        train_pq_codebooks,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    books = train_pq_codebooks(emb, m=8, k=16, sample_n=200)
    assert books.shape == (8, 16, 8)
    codes = pq_encode(emb, books).collect()
    assert len(codes) == emb.count()
    for r in codes[:50]:
        assert len(r.codes) == 8
        assert all(0 <= c < 16 for c in r.codes)


def test_asof_forward_and_tolerance(spark):
    import datetime as dt

    from udacity_data_engineering_capstone_project_spark.operators.joins import (
        asof_join,
    )

    T = lambda m: dt.datetime(2024, 1, 1, 0, m)  # noqa: E731
    left = spark.createDataFrame(
        [(1, T(10), "a"), (1, T(30), "b"), (2, T(5), "c")],
        "k long, ts timestamp, tag string",
    )
    right = spark.createDataFrame(
        [(1, T(10), 100.0), (1, T(50), 200.0), (2, T(4), 300.0)],
        "k long, ts timestamp, val double",
    )
    fwd = {
        r.tag: r.val_asof
        for r in asof_join(
            left, right, on="k", left_ts="ts", right_ts="ts",
            right_value_cols=["val"], direction="forward",
        ).collect()
    }
    # equal ts is inclusive; next-following otherwise; none after -> NULL
    assert fwd == {"a": 100.0, "b": 200.0, "c": None}
    tol = {
        r.tag: r.val_asof
        for r in asof_join(
            left, right, on="k", left_ts="ts", right_ts="ts",
            right_value_cols=["val"], direction="forward",
            tolerance_seconds=600,
        ).collect()
    }
    # b's match (T50) is 20 min away > 10 min tolerance -> masked
    assert tol == {"a": 100.0, "b": None, "c": None}
    back = {
        r.tag: r.val_asof
        for r in asof_join(
            left, right, on="k", left_ts="ts", right_ts="ts",
            right_value_cols=["val"], tolerance_seconds=60,
        ).collect()
    }
    # backward: c matches T(4) one minute earlier, inside 60s; b's
    # match (T10) is 20 min stale -> masked
    assert back == {"a": 100.0, "b": None, "c": 300.0}


def test_pagerank_matches_numpy_power_iteration(spark):
    """The x1e12 fixed-point ranks, scaled back, equal a float numpy
    power iteration to within the 1e-9 reporting grain."""
    import numpy as np

    from udacity_data_engineering_capstone_project_spark.operators.dedup import (
        pagerank_fixedpoint,
    )

    # directed graph with a dangling node (3) and a hub (0)
    E = [(0, 1), (0, 2), (1, 0), (2, 0), (1, 2), (2, 3)]
    edges = spark.createDataFrame(E, "src long, dst long")
    got = {
        r.node: r.rank / 10**12
        for r in pagerank_fixedpoint(edges, iters=15).collect()
    }

    n, d = 4, 0.85
    deg = {0: 2, 1: 2, 2: 2}
    r = np.full(n, 1.0 / n)
    for _ in range(15):
        nxt = np.zeros(n)
        for s, t in E:
            nxt[t] += r[s] / deg[s]
        dangling = r[3]
        r = (1 - d) / n + d * dangling / n + d * nxt
    assert abs(sum(got.values()) - 1.0) < 1e-6
    for i in range(n):
        assert abs(got[i] - r[i]) < 1e-9, (i, got[i], r[i])


def test_pagerank_fixedpoint_matches_integer_replay(spark):
    """The x1e12 fixed-point PageRank must match an EXACT pure-Python
    integer replay bit for bit (that replay is what the DuckDB oracle
    reproduces as chained CTEs), and sit within one truncation ulp per
    round of the float path."""
    from udacity_data_engineering_capstone_project_spark.operators.dedup import (
        pagerank_fixedpoint,
    )

    E = [(0, 1), (0, 2), (1, 0), (2, 0), (1, 2), (2, 3)]
    edges = spark.createDataFrame(E, "src long, dst long")
    iters, num, den, S = 12, 85, 100, 10**12
    got = {
        r.node: r.rank
        for r in pagerank_fixedpoint(edges, iters=iters).collect()
    }

    n = 4
    deg = {0: 2, 1: 2, 2: 2}
    base = S // n
    r = {i: base for i in range(n)}
    for _ in range(iters):
        inc = {i: 0 for i in range(n)}
        for s, t in E:
            inc[t] += r[s] // deg[s]
        dang = sum(v for k, v in r.items() if k not in deg)
        r = {
            i: ((den - num) * base + num * (dang // n) + num * inc[i]) // den
            for i in range(n)
        }
    assert got == r, (got, r)
    # ranks still sum to ~1.0 up to truncation loss
    assert abs(sum(got.values()) / S - 1.0) < 1e-9


def test_bpe_merges_match_reference_impl(spark):
    """The distributed BPE trainer must learn exactly the merge table a
    sequential reference implementation learns (same tie-breaks)."""
    import re

    from udacity_data_engineering_capstone_project_spark.operators.textops import (
        train_bpe_merges,
    )

    texts = [
        "low low low low low lower lower newest newest",
        "newest newest newest newest widest widest widest new new",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "id long, text string")
    got = train_bpe_merges(df, "text", n_merges=12)

    # pure-python reference on the same normalized word counts
    words = {}
    for t in texts:
        for w in re.sub(r"[^a-z0-9 ]", " ", t.lower()).split():
            words[w] = words.get(w, 0) + 1
    vocab = {tuple(w): c for w, c in words.items()}
    expect = []
    for rank in range(12):
        counts = {}
        for sym, c in vocab.items():
            for i in range(len(sym) - 1):
                counts[(sym[i], sym[i + 1])] = counts.get((sym[i], sym[i + 1]), 0) + c
        if not counts:
            break
        (a, b), n = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        if n < 2:
            break
        expect.append((rank, a, b, n))
        new_vocab = {}
        for sym, c in vocab.items():
            res, i = [], 0
            while i < len(sym):
                if i < len(sym) - 1 and sym[i] == a and sym[i + 1] == b:
                    res.append(a + b)
                    i += 2
                else:
                    res.append(sym[i])
                    i += 1
            new_vocab[tuple(res)] = new_vocab.get(tuple(res), 0) + c
        vocab = new_vocab
    assert got == expect and len(got) >= 8


def test_weighted_sample_matches_bruteforce_and_biases_long(spark):
    import hashlib
    import math

    from udacity_data_engineering_capstone_project_spark.operators.cleaning import (
        weighted_sample,
    )

    rows = [(i, (i % 10) + 1) for i in range(200)] + [(900, 0), (901, -3)]
    df = spark.createDataFrame(rows, "id long, w long")
    got = [(r.id, r.sample_key_x1e9) for r in weighted_sample(df, "id", "w", k=20)
           .orderBy("sample_key_x1e9", "id").collect()]

    def key(i, w):
        h = int(hashlib.md5(f"ws1{i}".encode()).hexdigest()[:7], 16)
        u = (h + 1) / (2**28 + 1)
        return math.floor(math.log(1.0 / u) / float(w) * 1e9 + 0.5)

    want = sorted(((key(i, w), i) for i, w in rows if w > 0))[:20]
    assert got == [(i, k) for k, i in want]
    assert all(i not in (900, 901) for i, _ in got)  # w<=0 excluded
    # length bias: mean weight of winners must exceed population mean
    pop_mean = sum(w for _, w in rows if w > 0) / 200
    win_mean = sum(dict(rows)[i] for i, _ in got) / len(got)
    assert win_mean > pop_mean


def test_weighted_sample_plan_is_topk_not_global_sort(spark, sf_dir):
    from udacity_data_engineering_capstone_project_spark.plans.queries_llm import (
        weighted_doc_sample,
    )

    plan = (
        weighted_doc_sample(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan


def test_pmi_planted_collocation_tops_ranking(spark):
    import math

    from udacity_data_engineering_capstone_project_spark.operators.textops import (
        cooccurrence_pmi,
    )

    # 'new york' always together in 6 docs; filler tokens spread evenly
    rows = [(i, "new york alpha beta") for i in range(6)]
    rows += [(10 + i, "alpha beta gamma delta") for i in range(12)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = cooccurrence_pmi(df, vocab_cap=10, min_pair_df=3, k=5).collect()
    top = out[0]
    assert (top.token_a, top.token_b) == ("new", "york")
    n, df_ab, df_a, df_b = 18, 6, 6, 6
    assert top.pmi_x1e6 == math.floor(
        math.log(n * df_ab / (df_a * df_b)) * 1e6 + 0.5
    )
    assert top.df_ab == 6
    # a chance-level pair must score ~0 or below the planted pair
    scores = {(r.token_a, r.token_b): r.pmi_x1e6 for r in out}
    assert scores[("new", "york")] == max(scores.values())


def test_arrow_cosine_matches_hof_bit_for_bit(spark):
    """The Arrow verification kernel in embedding_near_dup must equal
    the zip_with/aggregate fold exactly (same rounded value on every
    pair), since the DuckDB oracle replicates the fold."""
    import numpy as np

    from pyspark.sql import functions as F

    from udacity_data_engineering_capstone_project_spark.functions.vectors import (
        cosine_cols,
    )

    rng = np.random.RandomState(11)
    rows = [
        (i, rng.randn(64).tolist(), (rng.randn(64) * 1e3).tolist())
        for i in range(500)
    ]
    df = spark.createDataFrame(rows, "id long, a array<double>, b array<double>")
    hof = {r.id: r.c for r in df.select("id", cosine_cols(F.col("a"), F.col("b")).alias("c")).collect()}

    from udacity_data_engineering_capstone_project_spark.operators.similarity import (
        cosine_arrow_udf,
    )

    cos_r_arrow = cosine_arrow_udf()
    arrow = {r.id: r.c for r in df.select("id", cos_r_arrow("a", "b").alias("c")).collect()}
    assert arrow == hof


def test_ewma_matches_python_recurrence(spark):
    import math

    from udacity_data_engineering_capstone_project_spark.operators.windows import ewma

    rows = [(1, i, float(10 * (i + 1))) for i in range(20)]
    df = spark.createDataFrame(rows, "u int, i int, value double")
    got = {r.i: r.ewma_x1e6 for r in ewma(df, "u", ["i"], "value", depth=16).collect()}

    for t in range(20):
        frame = [v for _, i, v in rows if t - 15 <= i <= t]
        acc = 0.0
        for x in frame:
            acc = acc * 0.75 + 0.25 * x
        assert got[t] == math.floor(acc * 1e6 + 0.5), t


def test_ewma_raises_on_null_value(spark):
    """collect_list silently drops NULLs (shifting every EWMA weight)
    while the DuckDB oracle's list() keeps them — nullable input must
    fail loudly instead of diverging silently (round-2 advice)."""
    import pytest

    from udacity_data_engineering_capstone_project_spark.operators.windows import ewma

    df = spark.createDataFrame(
        [(1, 0, 10.0), (1, 1, None), (1, 2, 30.0)], "u int, i int, value double"
    )
    with pytest.raises(Exception, match="ewma: NULL in value column"):
        ewma(df, "u", ["i"], "value").collect()


def test_incremental_probe_equals_cross_split_exact_pairs(spark, sf_dir):
    """The asymmetric probe must find exactly the cross-split subset of
    the full self-join's verified pairs (recall 1 on the fixture)."""
    from pyspark.sql import functions as F

    from udacity_data_engineering_capstone_project_spark.functions.hashing import (
        spark_hex_to_long,
    )
    from udacity_data_engineering_capstone_project_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_lsh_pairs_against,
    )
    from udacity_data_engineering_capstone_project_spark.plans.queries_parity import _t

    docs = _t(spark, sf_dir, "documents")
    b = F.expr(spark_hex_to_long("md5(CAST(doc_id AS STRING))", 7)) % 100
    got = {
        (r.new_doc, r.index_doc, r.inter_size, r.union_size)
        for r in minhash_lsh_pairs_against(
            docs.filter(b < 90), docs.filter(b >= 90), "doc_id", "text"
        ).collect()
    }
    full = minhash_lsh_pairs(docs, "doc_id", "text").collect()
    buckets = {
        r.doc_id: r.b for r in docs.select("doc_id", b.alias("b")).collect()
    }
    want = set()
    for r in full:
        ba, bb = buckets[r.doc_a] >= 90, buckets[r.doc_b] >= 90
        if ba != bb:
            new, idx = (r.doc_a, r.doc_b) if ba else (r.doc_b, r.doc_a)
            want.add((new, idx, r.inter_size, r.union_size))
    assert got == want and len(got) > 0


def test_incremental_dedup_lsh_fully_recovers_exact_pairs(spark, sf_dir):
    """FIXTURE-REGEN GUARD (round-2 advice): the incremental_dedup_probe
    oracle is the EXACT cross-split Jaccard while the probe itself is
    probabilistic LSH (16 bands x 4 rows => ~2e-4 miss chance per pair
    at J=0.8). This test asserts the banding config fully recovers the
    exact pair set on the current fixture. If a regenerated fixture
    plants a near-threshold pair the bands miss, THIS test fails with
    this message — re-tune bands/rows (or regenerate) before trusting
    the driver gate; the oracle mismatch would otherwise look like a
    code bug."""
    from pyspark.sql import functions as F

    from udacity_data_engineering_capstone_project_spark.functions.hashing import (
        spark_hex_to_long,
    )
    from udacity_data_engineering_capstone_project_spark.operators.dedup import (
        jaccard_pairs,
        minhash_lsh_pairs_against,
        shingle_sets,
    )
    from udacity_data_engineering_capstone_project_spark.plans.queries_parity import _t

    docs = _t(spark, sf_dir, "documents")
    b = F.expr(spark_hex_to_long("md5(CAST(doc_id AS STRING))", 7)) % 100
    got = {
        frozenset((r.new_doc, r.index_doc))
        for r in minhash_lsh_pairs_against(
            docs.filter(b < 90), docs.filter(b >= 90), "doc_id", "text"
        ).collect()
    }
    exact = jaccard_pairs(shingle_sets(docs, "doc_id", "text", 3), max_shingle_freq=None)
    buckets = {
        r.doc_id: r.b for r in docs.select("doc_id", b.alias("b")).collect()
    }
    want = {
        frozenset((r.doc_a, r.doc_b))
        for r in exact.collect()
        if (buckets[r.doc_a] >= 90) != (buckets[r.doc_b] >= 90)
    }
    assert got == want, (
        "LSH banding no longer recovers the exact cross-split Jaccard "
        "pair set — fixture regen planted a near-threshold pair? "
        f"missed={want - got}, spurious={got - want}"
    )


def test_repeated_ngram_coverage_planted_span(spark):
    """A 10-token span pasted into two docs must be flagged in both,
    with window counts matching the exact sliding-window definition."""
    from udacity_data_engineering_capstone_project_spark.operators.curation import (
        repeated_ngram_coverage,
    )

    span = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (1, "unique one two three " + span + " tail a b c"),
        (2, span + " other words here entirely different four five six"),
        (3, "no overlap at all just its own content seven eight nine ten"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc: r for r in repeated_ngram_coverage(df, k=8).collect()}
    # the 10-token span contains 3 distinct 8-token windows; both docs
    # must count exactly those as repeated
    assert got[1].n_repeated == 3 and got[2].n_repeated == 3
    assert got[3].n_repeated == 0
    for doc_id, text in rows:
        n_tokens = len(text.split())
        assert got[doc_id].n_windows == n_tokens - 7
        assert got[doc_id].repeated_x1e4 == got[doc_id].n_repeated * 10000 // got[doc_id].n_windows


def test_dsir_importance_ranks_target_like_docs_higher(spark):
    """With a PLANTED domain difference (medical vs legal vocabulary),
    an unlabeled doc written in the target vocabulary must outscore an
    unlabeled doc written in the source vocabulary — the resampling
    signal the method exists for. (The parquet fixture's `source`
    labels are i.i.d. splits of one distribution, so this must be
    tested on planted data.)"""
    import random

    from pyspark.sql import functions as F

    from udacity_data_engineering_capstone_project_spark.operators.curation import (
        dsir_log_importance,
    )

    med = "patient dose trial symptom clinic therapy chronic acute".split()
    law = "court clause plaintiff statute tort verdict appeal brief".split()
    rng = random.Random(5)
    rows = []
    for i in range(30):  # labeled target docs: medical
        rows.append((i, " ".join(rng.choices(med, k=40)), True))
    for i in range(30, 90):  # background: legal
        rows.append((i, " ".join(rng.choices(law, k=40)), False))
    # two probe docs, both OUTSIDE the target label
    rows.append((1000, " ".join(rng.choices(med, k=40)), False))
    rows.append((1001, " ".join(rng.choices(law, k=40)), False))
    df = spark.createDataFrame(rows, "doc_id long, text string, is_tgt boolean")
    got = {
        r.doc: r.dsir_x1e6
        for r in dsir_log_importance(df, F.col("is_tgt")).collect()
    }
    assert got[1000] > got[1001]


def test_hashed_linear_score_matches_python(spark):
    """The hashed-feature logit must equal a direct python computation
    (same md5 bucketing, same pseudo-weight formula)."""
    import hashlib

    from udacity_data_engineering_capstone_project_spark.operators.curation import (
        hashed_linear_score,
    )

    texts = ["spark scales out", "bad noisy text text text", "data table join"]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {r.doc: (r.n_tokens, r.logit, r.keep) for r in
           hashed_linear_score(df).collect()}
    for i, t in enumerate(texts):
        toks = [w for w in t.lower().split() if w]
        logit = 0
        for w in toks:
            b = int(hashlib.md5(w.encode()).hexdigest()[:7], 16) % 1024
            logit += (b * 2_654_435_761) % 5 - 2
        assert got[i] == (len(toks), logit, logit > 0), (i, got[i], logit)


def test_bigram_interp_nll_matches_python(spark):
    """Exact python replication of the interpolated bigram NLL (same
    token pipeline, same fixed-point rounding) + the ordering signal:
    a boilerplate doc (repeating the corpus-dominant phrase) must
    score lower mean NLL than a doc of rare transitions."""
    import math
    from collections import Counter

    from udacity_data_engineering_capstone_project_spark.operators.textops import (
        bigram_interp_nll,
    )

    texts = {
        0: "the quick brown fox " * 10,
        1: "the quick brown fox " * 10,
        2: "zebra umbrella quick the fox brown vortex glyph",
    }
    df = spark.createDataFrame(
        [(i, t.strip()) for i, t in texts.items()], "doc_id long, text string"
    )
    got = {r.doc: (r.n_bigrams, r.mean_nll_x1e6)
           for r in bigram_interp_nll(df).collect()}

    toks = {i: t.strip().split() for i, t in texts.items()}
    uni = Counter(w for t in toks.values() for w in t)
    tot = sum(uni.values())
    bi = Counter((a, b) for t in toks.values() for a, b in zip(t, t[1:]))
    ctx = Counter()
    for (a, _b), c in bi.items():
        ctx[a] += c
    for i, t in toks.items():
        ss = []
        for a, b in zip(t, t[1:]):
            p = 0.75 * (bi[(a, b)] / ctx[a]) + 0.25 * (uni[b] / tot)
            ss.append(math.floor(-math.log(p) * 1_000_000 + 0.5))
        assert got[i] == (len(ss), sum(ss) // len(ss)), i
    assert got[0][1] < got[2][1]  # boilerplate scores lower NLL


def test_containment_detects_quote_jaccard_misses(spark):
    from udacity_data_engineering_capstone_project_spark.operators.dedup import (
        containment_pairs,
    )

    short = "alpha bravo charlie delta echo foxtrot"
    filler = " ".join(f"w{i} x{i} y{i}" for i in range(30))
    df = spark.createDataFrame(
        [(1, short), (2, short + " " + filler)], "doc_id long, text string"
    )
    sets = shingle_sets(df, "doc_id", "text", 3)
    # the short doc is fully contained in the long one...
    cont = containment_pairs(sets, threshold_num=4, threshold_den=5).collect()
    assert [(r.src, r.dst) for r in cont] == [(1, 2)]
    assert cont[0].cont_x1e4 == 10000  # every short-doc shingle matched
    # ...while symmetric Jaccard at the same threshold sees nothing
    jac = jaccard_pairs(sets, threshold_num=4, threshold_den=5).collect()
    assert jac == []


def test_semantic_dedup_within_cluster_only(spark):
    from udacity_data_engineering_capstone_project_spark.operators.similarity import (
        semantic_dedup,
    )

    rows = [
        (1, [1.0, 0.0, 0.0], 0),
        (2, [0.999, 0.001, 0.0], 0),   # near-dup of 1, same cluster
        (3, [1.0, 0.0, 0.0], 1),       # identical to 1 but other cluster
        (4, [0.0, 1.0, 0.0], 0),       # same cluster, dissimilar
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, cluster int"
    )
    got = {r.vec_id: (r.is_dup, r.dup_of)
           for r in semantic_dedup(df, threshold=0.95).collect()}
    assert got == {1: (False, None), 2: (True, 1),
                   3: (False, None), 4: (False, None)}


def test_semantic_dedup_trained_keeps_farthest_from_centroid(spark):
    from udacity_data_engineering_capstone_project_spark.operators.similarity import (
        semantic_dedup_trained,
    )

    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),      # planted group A
        (2, [0.0, 0.0, 1.0, 0.0]),      # planted group B (id 2 so the
        (3, [0.999, 0.001, 0.0, 0.0]),  # first-k init seeds both groups)
        (4, [0.8, 0.6, 0.0, 0.0]),      # group A, below threshold
        (5, [0.0, 0.0, 0.7, 0.7]),      # group B, below threshold
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {
        r.vec_id: r
        for r in semantic_dedup_trained(
            df, k=2, iters=3, threshold=0.95
        ).collect()
    }
    # 1 and 3 are the only semantic-dup pair; 4 and 5 sit below the
    # threshold against everything in their clusters
    assert [out[i].dropped for i in (2, 4, 5)] == [0, 0, 0]
    assert sorted([out[1].dropped, out[3].dropped]) == [0, 1]
    kept, gone = (1, 3) if out[3].dropped else (3, 1)
    # the paper's rule: the survivor is FARTHER from its centroid
    assert out[kept].c2c_r <= out[gone].c2c_r
    # clusters actually separated: A together, B together, A != B
    assert out[1].cluster == out[3].cluster == out[4].cluster
    assert out[2].cluster == out[5].cluster != out[1].cluster


def test_hard_negatives_excludes_same_label(spark):
    from udacity_data_engineering_capstone_project_spark.operators.similarity import (
        hard_negatives,
    )

    rows = [
        (1, [1.0, 0.0], 0),
        (2, [0.999, 0.01], 0),   # most similar overall but SAME label
        (3, [0.9, 0.1], 1),      # hardest valid negative
        (4, [0.0, 1.0], 1),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    got = hard_negatives(
        df.filter("vec_id = 1"), df, "vec_id", "embedding", "label", k=2
    ).orderBy("rank").collect()
    assert [r.neighbor_id for r in got] == [3, 4]
    assert all(r.neighbor_label != 0 for r in got)


def test_vocab_coverage_hand_computed(spark):
    from udacity_data_engineering_capstone_project_spark.operators.textops import (
        vocab_coverage,
    )

    # counts: a=4, b=2, c=1, d=1 -> total 8
    df = spark.createDataFrame(
        [(1, "a a a a b b c d")], "doc_id long, text string"
    )
    got = {r.pct: (r.target_mass, r.vocab_needed)
           for r in vocab_coverage(df, "text", (50, 75, 99)).collect()}
    # 50%: target 4 -> the single 'a' class covers it
    # 75%: target 6 -> a (4) + b (2) = 2 types
    # 99%: target ceil(7.92)=8 -> a+b+both singletons = 4 types
    assert got == {50: (4, 1), 75: (6, 2), 99: (8, 4)}


def test_temperature_mixture_sqrt_quotas(spark):
    from udacity_data_engineering_capstone_project_spark.operators.curation import (
        temperature_mixture_plan,
    )

    rows = [(i, "big") for i in range(900)] + [(i + 1000, "small") for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    got = {r.source: r for r in temperature_mixture_plan(df, "source", 100).collect()}
    assert got["big"].weight_x1e6 == 30_000_000
    assert got["small"].weight_x1e6 == 10_000_000
    # raw proportions would be 90/10; sqrt tempering gives 75/25
    assert got["big"].planned_docs == 75
    assert got["small"].planned_docs == 25


def test_srp_auto_config_linear_collision_budget():
    from udacity_data_engineering_capstone_project_spark.operators.similarity import (
        srp_auto_config,
    )
    import math

    for n in (1_000, 100_000, 1_000_000, 100_000_000):
        bands, rows = srp_auto_config(n, target_cos=0.99, miss=1e-6)
        # expected RANDOM candidates n^2/2 * b/2^r must stay ~linear:
        # <= n * bands (r >= log2(n) + 1 guarantees it; we set +4)
        if rows < 28:  # below the cap the bound is exact
            assert n * n / 2 * bands / 2**rows <= n * bands / 2
        # recall pinned: miss probability at target_cos under 1e-6
        p_bit = 1 - math.acos(0.99) / math.pi
        assert (1 - p_bit**rows) ** bands <= 1e-6
    # monotone: bigger corpora never get narrower bands
    rs = [srp_auto_config(n)[1] for n in (1_000, 10**6, 10**9)]
    assert rs == sorted(rs)


def test_bpe_encode_matches_reference_impl(spark):
    """Applying a learned merge table must reproduce a sequential
    reference encoder's subword counts exactly."""
    import re

    from udacity_data_engineering_capstone_project_spark.operators.textops import (
        bpe_encode,
        train_bpe_merges,
    )

    texts = [
        "low low low low low lower lower newest newest",
        "newest newest newest newest widest widest widest new new",
        "the newest low rider is the widest",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    merges = train_bpe_merges(df, "text", n_merges=8)
    got = {r.doc: (r.n_words, r.n_subwords, r.fertility_x100)
           for r in bpe_encode(df, merges, "doc_id", "text").collect()}

    ordered = [(a, b) for (_r, a, b, _n) in sorted(merges)]

    def encode(word: str) -> int:
        lst = list(word)
        for a, b in ordered:
            res, i = [], 0
            while i < len(lst):
                if i < len(lst) - 1 and lst[i] == a and lst[i + 1] == b:
                    res.append(a + b)
                    i += 2
                else:
                    res.append(lst[i])
                    i += 1
            lst = res
        return len(lst)

    for doc_id, t in enumerate(texts):
        ws = re.sub(r"[^a-z0-9 ]", " ", t.lower()).split()
        n_sub = sum(encode(w) for w in ws)
        assert got[doc_id] == (len(ws), n_sub, n_sub * 100 // len(ws)), doc_id
    # merged symbols compress: fertility strictly below chars-per-word x100
    ws0 = re.sub(r"[^a-z0-9 ]", " ", texts[0].lower()).split()
    assert got[0][1] < sum(len(w) for w in ws0)


def test_pinned_bpe_merges_match_training(spark, sf_dir):
    """Fixture-regen guard for the PINNED tokenizer (the constant that
    makes ``bpe_fertility`` full-oracle-checkable): re-training at
    sf0.001 must reproduce ``PINNED_BPE_MERGES`` exactly. A failure
    means the documents fixture changed — re-pin the constant, don't
    touch the trainer."""
    from udacity_data_engineering_capstone_project_spark.operators.textops import (
        PINNED_BPE_MERGES,
        train_bpe_merges,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got = train_bpe_merges(docs, "text", n_merges=20)
    assert got == PINNED_BPE_MERGES


def test_bitmap_rolling_distinct_exact(spark, sf_dir):
    """Bitmap OR + popcount == naive exact rolling distinct, per day."""
    import pandas as pd
    from pyspark.sql import functions as F

    from udacity_data_engineering_capstone_project_spark.operators.aggregates import (
        bitmap_rolling_distinct,
    )

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    got = {
        r["day"]: (r["users_1d"], r["users_7d"])
        for r in bitmap_rolling_distinct(events, "ts", "user_id", 7).collect()
    }
    ep = events.select(F.col("ts").cast("date").alias("day"), "user_id").toPandas()
    days = sorted(ep["day"].unique())
    assert len(got) == len(days)
    for d in days:
        lo = d - pd.Timedelta(days=6)
        exact7 = ep[(ep["day"] >= lo) & (ep["day"] <= d)]["user_id"].nunique()
        exact1 = ep[ep["day"] == d]["user_id"].nunique()
        assert got[d] == (exact1, exact7)


def test_bitmap_rolling_distinct_window_bounds(spark, sf_dir):
    """Rolling distinct dominates daily distinct and is monotone in
    the window width (2-day superset of 1-day, subset of 7-day)."""
    from udacity_data_engineering_capstone_project_spark.operators.aggregates import (
        bitmap_rolling_distinct,
    )

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    two = {
        r["day"]: r["users_2d"]
        for r in bitmap_rolling_distinct(events, "ts", "user_id", 2).collect()
    }
    for r in bitmap_rolling_distinct(events, "ts", "user_id", 7).collect():
        assert r["users_1d"] <= two[r["day"]] <= r["users_7d"]


def test_histogram_quantiles_bound_and_monotone(spark, sf_dir):
    """Estimate always within one bin of the exact nearest-rank value
    (the histogram guarantee), quantiles monotone in p, 'ALL' rollup
    n equals the raw row count."""
    from udacity_data_engineering_capstone_project_spark.operators.aggregates import (
        histogram_quantiles,
    )

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    rows = histogram_quantiles(
        events, "event_type", "value", bin_width=8, n_bins=128
    ).collect()
    assert all(r["within_bin"] == 1 for r in rows)
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r["shard"], {})[r["p"]] = r["est_x100"]
    for shard, qs in by_shard.items():
        assert qs[50] <= qs[90] <= qs[99], shard
    n_all = next(r["n"] for r in rows if r["shard"] == "ALL")
    assert n_all == events.count()


def test_bitmap_retention_identities(spark, sf_dir):
    """Conservation laws: retained + new == active, and last week's
    active == this week's retained + churned (for days with a lagged
    counterpart)."""
    from udacity_data_engineering_capstone_project_spark.operators.aggregates import (
        bitmap_retention,
    )
    import datetime

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    rows = {r["day"]: r for r in bitmap_retention(events, "ts", "user_id", 7).collect()}
    assert rows
    for day, r in rows.items():
        assert r["retained"] + r["new_users"] == r["active"]
        prev = rows.get(day - datetime.timedelta(days=7))
        if prev is not None:
            assert prev["active"] == r["retained"] + r["churned"]


def test_chunk_windows_cover_every_token(spark, sf_dir):
    """Every token index of every document is covered by >=1 chunk;
    consecutive chunks overlap by chunk_len - stride; short docs get
    exactly one chunk; plan is shuffle-free."""
    import re

    from pyspark.sql import functions as F
    from udacity_data_engineering_capstone_project_spark.functions.textnorm import (
        tokens_col,
    )
    from udacity_data_engineering_capstone_project_spark.operators.textops import (
        chunk_windows,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = chunk_windows(docs, "doc_id", "text", chunk_len=32, stride=24)
    rows = out.collect()
    lens = {
        r["doc_id"]: r["n"]
        for r in docs.select("doc_id", F.size(tokens_col("text")).alias("n")).collect()
    }
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc"], []).append(r)
    assert set(by_doc) == set(lens)
    for doc, chunks in by_doc.items():
        chunks.sort(key=lambda r: r["chunk_id"])
        covered = max(c["tok_start"] + c["n_chunk_tokens"] for c in chunks)
        assert covered == lens[doc]  # full coverage, no token dropped
        assert chunks[-1]["n_chunk_tokens"] >= 1
        if lens[doc] <= 32:
            assert len(chunks) == 1
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert not re.search(r"Exchange (?:hash|range)partitioning", plan)


def test_epoch_shuffle_is_reproducible_and_reshuffles(spark, sf_dir):
    """Same epoch twice -> identical shard checksums; different epochs
    -> different assignment (the reshuffle); shard counts cover the
    corpus exactly once per epoch."""
    from udacity_data_engineering_capstone_project_spark.operators.cleaning import (
        epoch_shuffle_shards,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    a = {(r["epoch"], r["shard"]): (r["n_docs"], r["ids_xor"])
         for r in epoch_shuffle_shards(docs, epochs=(0, 1)).collect()}
    b = {(r["epoch"], r["shard"]): (r["n_docs"], r["ids_xor"])
         for r in epoch_shuffle_shards(docs, epochs=(0, 1)).collect()}
    assert a == b  # reproducible
    n = docs.count()
    for e in (0, 1):
        assert sum(v[0] for (ep, _), v in a.items() if ep == e) == n
    sig0 = {s: v for (e, s), v in a.items() if e == 0}
    sig1 = {s: v for (e, s), v in a.items() if e == 1}
    assert sig0 != sig1  # epochs produce different permutations


def test_dedup_pairs_identical_across_hash_families(spark, sf_dir):
    """jaccard_pairs and minhash_lsh_pairs emit the SAME pairs under
    md5 digests (oracle family) and xxhash64 digests (the JVM-intrinsic
    production fast path): downstream treats digests as opaque equality
    keys and verification is exact, so any collision-free family gives
    identical output."""
    from udacity_data_engineering_capstone_project_spark.operators.dedup import (
        jaccard_pairs,
        minhash_lsh_pairs,
        shingle_sets,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    jac = {}
    for fam in ("md5", "xxhash64"):
        sets = shingle_sets(docs, "doc_id", "text", 3, hash_family=fam)
        jac[fam] = {
            (r.doc_a, r.doc_b, r.inter_size, r.union_size)
            for r in jaccard_pairs(sets, 3, 5).collect()
        }
    assert jac["md5"] == jac["xxhash64"] and len(jac["md5"]) > 0

    mh = {}
    for fam in ("md5", "xxhash64"):
        mh[fam] = {
            (r.doc_a, r.doc_b)
            for r in minhash_lsh_pairs(
                docs, "doc_id", "text", threshold_num=3, threshold_den=5,
                hash_family=fam,
            ).collect()
        }
    assert mh["md5"] == mh["xxhash64"] and len(mh["md5"]) > 0


def test_kmv_sketch_equals_naive_kmin(spark):
    """kmv_sketch's filtered scale path must return EXACTLY the k
    smallest distinct hashes per group — identical to the naive
    full-sort definition (which the DuckDB oracle implements)."""
    import hashlib

    from pyspark.sql import functions as F

    from udacity_data_engineering_capstone_project_spark.operators.aggregates import kmv_sketch

    sizes = {"g0": 500, "g1": 600, "g2": 700}
    rows = [
        (g, "%s_v%d" % (g, j)) for g, n in sizes.items() for j in range(n)
    ] * 3  # duplicates: the sketch is over DISTINCT values
    df = spark.createDataFrame(rows, ["g", "v"]).repartition(8)
    k = 16
    sk = kmv_sketch(df, "g", "v", k=k, nchars=13, margin=8)
    got = {
        (r["g"], r["rn"]): r["h"] for r in sk.collect()
    }

    def h(v):
        return int(hashlib.md5(v.encode()).hexdigest()[:13], 16)

    for g, n in sizes.items():
        want = sorted({h("%s_v%d" % (g, j)) for j in range(n)})[:k]
        assert [got[(g, rn)] for rn in range(1, k + 1)] == want


def test_kmv_sketch_exact_mode_small_group(spark):
    """A group with fewer distinct values than k yields its full hash
    set (exact mode) — rn never exceeds the distinct count and no
    guard fires."""
    from udacity_data_engineering_capstone_project_spark.operators.aggregates import kmv_sketch

    df = spark.createDataFrame(
        [("a", str(i % 5)) for i in range(100)], ["g", "v"]
    )
    out = kmv_sketch(df, "g", "v", k=64).collect()
    assert len(out) == 5
    assert max(r["rn"] for r in out) == 5


def test_kmv_estimate_within_error_bound(spark):
    """KMV estimator (k-1)*SPACE/kth lands within 4/sqrt(k) relative
    error (>3 sigma) of the true distinct count on a 10k-value group."""
    from pyspark.sql import functions as F

    from udacity_data_engineering_capstone_project_spark.operators.aggregates import kmv_sketch

    n, k = 10_000, 64
    space = 16**13
    df = spark.createDataFrame([("a", "u%d" % i) for i in range(n)], ["g", "v"])
    sk = kmv_sketch(df, "g", "v", k=k)
    kth = sk.agg(F.max("h")).collect()[0][0]
    est = (k - 1) * space // kth
    assert abs(est - n) / n < 4 / (k**0.5)


def test_duplicate_spans_planted_shared_run(spark):
    """Two docs sharing a 12-token run (inside otherwise-unique text)
    must each report exactly one maximal span covering precisely that
    run; a third unique doc reports nothing."""
    from udacity_data_engineering_capstone_project_spark.operators.dedup import duplicate_spans

    shared = " ".join("s%d" % i for i in range(12))
    far = " ".join("t%d" % i for i in range(9))
    d1 = " ".join("a%d" % i for i in range(10)) + " " + shared + " " + \
        " ".join("b%d" % i for i in range(10)) + " " + far
    d2 = " ".join("c%d" % i for i in range(10)) + " " + shared + " " + \
        " ".join("d%d" % i for i in range(10)) + " " + far
    d3 = " ".join("e%d" % i for i in range(40))
    df = spark.createDataFrame(
        [(1, d1), (2, d2), (3, d3)], ["doc_id", "text"]
    )
    spans = {
        (r["doc_id"], r["span_start"], r["span_end"], r["span_tokens"])
        for r in duplicate_spans(df, "doc_id", "text", k=8).collect()
    }
    # the 12-token run occupies positions 11..22 in both docs; the
    # 9-token far run occupies 33..41
    assert spans == {
        (1, 11, 22, 12), (2, 11, 22, 12),
        (1, 33, 41, 9), (2, 33, 41, 9),
    }


def test_duplicate_spans_merge_vs_gap(spark):
    """Back-to-back duplicated runs merge into one maximal span; runs
    separated by one uncovered token stay two spans (the merge rule is
    touching-or-overlapping intervals, never bridging a gap)."""
    from udacity_data_engineering_capstone_project_spark.operators.dedup import duplicate_spans

    r1 = " ".join("s%d" % i for i in range(8))
    r2 = " ".join("q%d" % i for i in range(8))
    da = r1 + " " + r2          # doc 1: runs touch -> one span 1..16
    dg = r1 + " x " + r2        # doc 4: 1-token gap -> spans 1..8, 10..17
    db = " ".join("m%d" % i for i in range(10)) + " " + r1
    dc = " ".join("n%d" % i for i in range(10)) + " " + r2
    df = spark.createDataFrame(
        [(1, da), (2, db), (3, dc), (4, dg)], ["doc_id", "text"]
    )
    spans = duplicate_spans(df, "doc_id", "text", k=8).collect()
    doc1 = {(r["span_start"], r["span_end"]) for r in spans if r["doc_id"] == 1}
    doc4 = {(r["span_start"], r["span_end"]) for r in spans if r["doc_id"] == 4}
    assert doc1 == {(1, 16)}
    assert doc4 == {(1, 8), (10, 17)}


def test_prefix_filter_equals_naive_jaccard(spark):
    """jaccard_pairs_prefix must reproduce the uncapped inverted-index
    result exactly — pairs AND sizes — across thresholds, on a corpus
    with heavy boilerplate overlap (the case the prefix filter prunes
    hardest)."""
    import random

    from udacity_data_engineering_capstone_project_spark.operators.dedup import (
        jaccard_pairs,
        jaccard_pairs_prefix,
        shingle_sets,
    )

    rng = random.Random(17)
    vocab = ["w%d" % i for i in range(30)]
    boiler = "common header line shared by many documents in this corpus"
    docs = []
    for i in range(40):
        body = " ".join(rng.choice(vocab) for _ in range(rng.randint(6, 25)))
        text = (boiler + " " + body) if i % 2 == 0 else body
        docs.append((i, text))
    # planted near-dup pair
    docs.append((100, "alpha beta gamma delta epsilon zeta eta theta iota"))
    docs.append((101, "alpha beta gamma delta epsilon zeta eta theta kappa"))
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    sh = shingle_sets(df, "doc_id", "text", n=3)
    for num, den in ((3, 5), (4, 5), (1, 2)):
        naive = {
            (r["doc_a"], r["doc_b"], r["inter_size"], r["union_size"])
            for r in jaccard_pairs(
                sh, num, den, max_shingle_freq=None, persist=False
            ).collect()
        }
        pref = {
            (r["doc_a"], r["doc_b"], r["inter_size"], r["union_size"])
            for r in jaccard_pairs_prefix(sh, num, den, persist=False).collect()
        }
        assert pref == naive, (num, den)
    assert any(p[0] == 100 and p[1] == 101 for p in pref)


def test_token_entropy_uniform_and_degenerate(spark):
    """Uniform 4-token doc: H = ln(4) nats (4 x x1e6-rounded quarter
    contributions); constant doc: H = 0 and the low-diversity flag
    fires; empty-ish doc drops out (no tokens)."""
    from udacity_data_engineering_capstone_project_spark.operators.textops import token_entropy

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "spam spam spam spam"), (3, "!!!")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in token_entropy(docs).collect()}
    import math

    per_term = math.floor(0.25 * math.log(4) * 1e6 + 0.5)
    assert rows[1].entropy_x1e6 == 4 * per_term
    assert rows[1].is_low_entropy == 1  # ln(4)=1.386 < 3.0 nats
    assert rows[2].entropy_x1e6 == 0 and rows[2].is_low_entropy == 1
    assert rows[2].n_toks == 4
    assert 3 not in rows


def test_per_source_entropy_buckets_quartile_containment(spark, sf_dir):
    """Relative-filter invariants on the fixture: buckets partition
    each source's docs, and strict-quartile bucketing bounds tail and
    head at <=25% each (ties land in middle)."""
    from udacity_data_engineering_capstone_project_spark.plans.queries_llm import (
        per_source_entropy_buckets,
    )

    rows = per_source_entropy_buckets(spark, sf_dir).collect()
    assert rows and {r.bucket for r in rows} <= {"head", "middle", "tail"}
    from collections import Counter

    per_src = {}
    for r in rows:
        per_src.setdefault(r.source, Counter())[r.bucket] += 1
    for src, cnt in per_src.items():
        n = sum(cnt.values())
        assert cnt["tail"] <= n / 4 + 1, src
        assert cnt["head"] <= n / 4 + 1, src
        assert cnt["middle"] >= n / 2 - 2, src


def test_distinctive_terms_monroe_semantics(spark, sf_dir):
    """Log-odds z ranking invariants on the fixture: 5 rows per source
    (ranks 1..5), and every source's top token has a POSITIVE z
    (a token can't be maximally distinctive of a source while being
    under-represented in it)."""
    from udacity_data_engineering_capstone_project_spark.plans.queries_llm import (
        distinctive_terms_by_source,
    )

    rows = distinctive_terms_by_source(spark, sf_dir).collect()
    per_src = {}
    for r in rows:
        per_src.setdefault(r.source, []).append(r)
    for src, rs in per_src.items():
        assert sorted(x.rank for x in rs) == [1, 2, 3, 4, 5], src
        top = min(rs, key=lambda x: x.rank)
        assert top.z_x1e6 > 0, src


def test_derived_partsupp_deterministic_and_bounded(spark, sf_dir):
    """The md5-synthesized partsupp behind tpch_q2/q16/q20 must be a
    FUNCTION of the fixture: two runs byte-identical, (part, supp)
    pairs unique, at most 4 suppliers per part, every ps_suppkey a
    real supplier key."""
    from udacity_data_engineering_capstone_project_spark.plans.registry import query_fns

    fn = query_fns()["tpch_q16_supplier_counts"]
    a = [tuple(r) for r in fn(spark, sf_dir).collect()]
    b = [tuple(r) for r in fn(spark, sf_dir).collect()]
    assert a == b and len(a) > 0
    # inspect the CTE directly through the q2 plan's source views
    from udacity_data_engineering_capstone_project_spark.plans.queries_sql import (
        _PARTSUPP_CTES,
        register_views,
    )

    register_views(spark, sf_dir)
    ps = spark.sql(
        "WITH " + _PARTSUPP_CTES.format(str_t="STRING") + " SELECT * FROM partsupp"
    )
    n = ps.count()
    assert ps.select("ps_partkey", "ps_suppkey").distinct().count() == n
    from pyspark.sql import functions as F

    per_part = ps.groupBy("ps_partkey").count().agg(F.max("count")).first()[0]
    assert per_part <= 4
    orphan = (
        ps.join(
            spark.table("supplier"),
            ps.ps_suppkey == F.col("s_suppkey"),
            "left_anti",
        ).count()
    )
    assert orphan == 0


def test_cluster_topic_terms_shape_and_grouping(spark, sf_dir):
    """Cluster labeling invariants: ranks 1..5 per emitted cluster,
    clusters are a subset of 0..7, top token per cluster has z > 0."""
    from udacity_data_engineering_capstone_project_spark.plans.queries_llm import (
        cluster_topic_terms,
    )

    rows = cluster_topic_terms(spark, sf_dir).collect()
    per = {}
    for r in rows:
        assert 0 <= r.cluster <= 7
        per.setdefault(r.cluster, []).append(r)
    assert per, "no clusters emitted"
    for cl, rs in per.items():
        assert sorted(x.rank for x in rs) == list(range(1, len(rs) + 1)), cl
        assert min(rs, key=lambda x: x.rank).z_x1e6 > 0, cl


def test_int8_quantize_stats_known_vector(spark):
    """Exact quantization math on planted vectors: scale = max|v|/127;
    a vector holding exact multiples of its scale reconstructs with
    zero error; a worst-case half-step dim shows max_err ~= scale/2."""
    from udacity_data_engineering_capstone_project_spark.operators.similarity import (
        int8_quantize_stats,
    )

    rows = {
        r.vec_id: r
        for r in int8_quantize_stats(
            spark.createDataFrame(
                [
                    (1, [127.0, -63.5, 0.0, 63.5]),   # multiples of scale=1? max=127 -> scale=1.0; -63.5 rounds to -63 -> err .5
                    (2, [12.7, 6.35, -12.7, 0.0]),    # scale=0.1
                ],
                "vec_id long, embedding array<double>",
            )
        ).collect()
    }
    r1 = rows[1]
    assert r1.scale_x1e9 == 1_000_000_000  # scale exactly 1.0
    # -63.5 -> floor(-63.5+0.5)=-63 -> err = -0.5 exactly
    assert r1.max_err_x1e9 == 500_000_000
    r2 = rows[2]
    assert r2.scale_x1e9 == 100_000_000  # 12.7/127 = 0.1
    assert r2.max_err_x1e9 <= 50_000_000  # bounded by scale/2


def test_event_pattern_counts_crafted_journeys(spark, monkeypatch, tmp_path):
    """Pattern semantics on hand-built journeys: greedy non-overlapping
    'cv*p' conversions, 'e+' bursts, first-purchase position."""
    import datetime as dt

    rows = []
    # user 1: c v v p c p  -> conversions: 'cvvp' + 'cp' = 2; no errors
    for i, t in enumerate("cvvpcp"):
        rows.append((i, dt.datetime(2024, 1, 1, 0, i), 1,
                     {"c": "click", "v": "view", "p": "purchase"}[t], 1.0, None))
    # user 2: e e c e  -> 2 error bursts ('ee', 'e'), 0 conversions
    for i, t in enumerate("eece"):
        rows.append((10 + i, dt.datetime(2024, 1, 1, 1, i), 2,
                     {"c": "click", "e": "error"}[t], 1.0, None))
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    path = str(tmp_path / "events.parquet")
    df.write.parquet(path)

    from udacity_data_engineering_capstone_project_spark.plans import queries_llm as q

    # point the query's table loader at the crafted events dir
    monkeypatch.setattr(
        q, "_t", lambda spark, sf_dir, name: spark.read.parquet(path)
    )
    out = {r.user_id: r for r in q.event_pattern_counts(spark, "ignored").collect()}
    assert out[1].n_conversions == 2
    assert out[1].n_error_bursts == 0
    assert out[1].first_purchase_pos == 4  # 'cvvp' -> p at position 4
    assert out[2].n_conversions == 0
    assert out[2].n_error_bursts == 2
    assert out[2].first_purchase_pos == 0


def test_aqp_estimate_covers_exact_total(spark, sf_dir):
    """The deterministic 1%-sample estimate must land within 3x its
    own reported confidence half-width of the EXACT full-scan revenue
    (the sample is a pure function of the data, so this is a fixed,
    repeatable outcome — not a flaky statistical assertion)."""
    from pyspark.sql import functions as F

    from udacity_data_engineering_capstone_project_spark.plans.queries_llm import (
        aqp_revenue_estimate,
        _t,
    )

    est = {r.l_returnflag: r for r in aqp_revenue_estimate(spark, sf_dir).collect()}
    exact = {
        r.l_returnflag: r.total
        for r in _t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).alias(
                "total"
            )
        )
        .collect()
    }
    assert est and set(est) == set(exact)
    for flag, r in est.items():
        err = abs(r.est_rev_x100 / 100.0 - exact[flag])
        assert err <= 3 * (r.ci_half_x100 / 100.0) + 1.0, (flag, err, r)


def test_pagerank_empty_edges_returns_empty(spark):
    """A corpus with no near-dup pairs at the threshold yields an empty
    edge set; pagerank_fixedpoint must return an empty (node, rank)
    frame, not ZeroDivisionError (ADVICE r6)."""
    from udacity_data_engineering_capstone_project_spark.operators.dedup import (
        pagerank_fixedpoint,
    )

    edges = spark.createDataFrame([], "src string, dst string")
    out = pagerank_fixedpoint(edges, iters=3)
    assert out.columns == ["node", "rank"]
    assert out.count() == 0


def test_minhash_indexed_probe_matches_query_time_path(spark, sf_dir, tmp_path):
    """The persisted-index serving twin must emit exactly the pairs of
    the per-batch query-time path (minhash_lsh_pairs_against), and its
    postings scan must carry the batch's band keys as a partition
    filter plus a pushed band_key IN scan filter — the pruning that
    makes serving I/O corpus-size-independent."""
    from pyspark.sql import functions as F

    from udacity_data_engineering_capstone_project_spark.functions.hashing import (
        spark_hex_to_long,
    )
    from udacity_data_engineering_capstone_project_spark.operators.dedup import (
        minhash_lsh_pairs_against,
        minhash_probe_indexed,
        write_minhash_index,
    )
    from udacity_data_engineering_capstone_project_spark.plans.queries_parity import _t

    docs = _t(spark, sf_dir, "documents")
    b = F.expr(spark_hex_to_long("md5(CAST(doc_id AS STRING))", 7)) % 100
    index_docs, batch = docs.filter(b < 90), docs.filter(b >= 90)

    path = str(tmp_path / "mh_idx")
    write_minhash_index(index_docs, path)
    served = minhash_probe_indexed(spark, path, batch, "doc_id", "text")
    want = {
        (r.new_doc, r.index_doc, r.inter_size, r.union_size)
        for r in minhash_lsh_pairs_against(
            index_docs, batch, "doc_id", "text"
        ).collect()
    }
    got = {
        (r.new_doc, r.index_doc, r.inter_size, r.union_size)
        for r in served.collect()
    }
    assert got == want and len(got) > 0

    plan = served._jdf.queryExecution().executedPlan().toString()
    # postings scan: bp partition pruning + pushed band_key filter
    assert "PartitionFilters: [bp" in plan.replace("\n", " ") or "bp#" in plan
    import re

    scans = [ln for ln in plan.splitlines() if "Scan parquet" in ln or "PartitionFilters" in ln]
    joined = " ".join(scans)
    assert re.search(r"PartitionFilters: \[[^\]]*bp", joined), joined
    assert re.search(r"PushedFilters: \[[^\]]*In\(band_key", plan), "band_key IN not pushed"
    # sets scan: dp partition pruning. Since r12 the verification sets
    # are collected once and broadcast into the pair-intersect kernel
    # (only id pairs cross the Arrow boundary), so the pruned sets scan
    # lives on the sliver DataFrame the operator exposes for exactly
    # this guard, not in the returned plan.
    sets_plan = served._verify_sets_df._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PartitionFilters: \[[^\]]*dp", sets_plan.replace("\n", " ")), sets_plan[:2000]


def test_minhash_indexed_large_batch_fallback(spark, sf_dir, tmp_path):
    """A batch over max_literal_keys keeps partition pruning but skips
    the IN-list — answers identical."""
    from pyspark.sql import functions as F

    from udacity_data_engineering_capstone_project_spark.functions.hashing import (
        spark_hex_to_long,
    )
    from udacity_data_engineering_capstone_project_spark.operators.dedup import (
        minhash_probe_indexed,
        write_minhash_index,
    )
    from udacity_data_engineering_capstone_project_spark.plans.queries_parity import _t

    docs = _t(spark, sf_dir, "documents")
    b = F.expr(spark_hex_to_long("md5(CAST(doc_id AS STRING))", 7)) % 100
    index_docs, batch = docs.filter(b < 90), docs.filter(b >= 90)
    path = str(tmp_path / "mh_idx2")
    write_minhash_index(index_docs, path)
    normal = minhash_probe_indexed(spark, path, batch, "doc_id", "text")
    fallback = minhash_probe_indexed(
        spark, path, batch, "doc_id", "text", max_literal_keys=1
    )
    rows = lambda df: {  # noqa: E731
        (r.new_doc, r.index_doc, r.inter_size, r.union_size)
        for r in df.collect()
    }
    assert rows(fallback) == rows(normal) and rows(normal)


def test_minhash_indexed_empty_batch(spark, sf_dir, tmp_path):
    """A batch whose docs are all below the shingle floor produces no
    band keys; the probe must return an empty pair frame, not an
    'IN ()' parse error."""
    from pyspark.sql import functions as F

    from udacity_data_engineering_capstone_project_spark.operators.dedup import (
        minhash_probe_indexed,
        write_minhash_index,
    )
    from udacity_data_engineering_capstone_project_spark.plans.queries_parity import _t

    docs = _t(spark, sf_dir, "documents")
    path = str(tmp_path / "mh_idx3")
    write_minhash_index(docs, path)
    empty_batch = spark.createDataFrame(
        [(10_000_001, "ab"), (10_000_002, "x")], "doc_id long, text string"
    )
    out = minhash_probe_indexed(spark, path, empty_batch, "doc_id", "text")
    assert out.count() == 0
    assert out.columns == ["new_doc", "index_doc", "inter_size", "union_size"]


def _mh_pairs(df):
    return {
        (r.new_doc, r.index_doc, r.inter_size, r.union_size)
        for r in df.collect()
    }


def test_minhash_append_then_probe_equals_fresh_build(spark, sf_dir, tmp_path):
    """Continuous-ingestion contract (VERDICT r7 #3): building on A
    then appending B must answer probes exactly like a fresh build
    over A UNION B — the amortization claim exercised, not argued."""
    from pyspark.sql import functions as F

    from udacity_data_engineering_capstone_project_spark.functions.hashing import (
        spark_hex_to_long,
    )
    from udacity_data_engineering_capstone_project_spark.operators.dedup import (
        append_minhash_index,
        minhash_probe_indexed,
        write_minhash_index,
    )
    from udacity_data_engineering_capstone_project_spark.plans.queries_parity import _t

    docs = _t(spark, sf_dir, "documents")
    b = F.expr(spark_hex_to_long("md5(CAST(doc_id AS STRING))", 7)) % 100
    part_a = docs.filter(b < 80)
    part_b = docs.filter((b >= 80) & (b < 90))
    probe = docs.filter(b >= 90)

    inc_path = str(tmp_path / "mh_inc")
    write_minhash_index(part_a, inc_path)
    stats = append_minhash_index(part_b, inc_path)
    assert stats["postings_files"] > 0 and stats["sets_files"] > 0

    fresh_path = str(tmp_path / "mh_fresh")
    write_minhash_index(part_a.unionByName(part_b), fresh_path)

    got = _mh_pairs(minhash_probe_indexed(spark, inc_path, probe, "doc_id", "text"))
    want = _mh_pairs(
        minhash_probe_indexed(spark, fresh_path, probe, "doc_id", "text")
    )
    assert got == want and len(got) > 0


def test_minhash_index_params_validated(spark, sf_dir, tmp_path):
    """Probe/append with dials differing from the build must raise —
    not silently miss pairs via wrong bp/dp pruning (ADVICE r7)."""
    import os

    import pytest
    from pyspark.sql import functions as F

    from udacity_data_engineering_capstone_project_spark.operators.dedup import (
        append_minhash_index,
        minhash_probe_indexed,
        write_minhash_index,
    )
    from udacity_data_engineering_capstone_project_spark.plans.queries_parity import _t

    docs = _t(spark, sf_dir, "documents")
    path = str(tmp_path / "mh_params")
    write_minhash_index(docs.filter(F.col("doc_id") % 2 == 0), path)
    batch = docs.filter(F.col("doc_id") % 2 == 1).limit(5)

    with pytest.raises(ValueError, match="different dials"):
        minhash_probe_indexed(spark, path, batch, "doc_id", "text", bands=8)
    with pytest.raises(ValueError, match="different dials"):
        append_minhash_index(batch, path, n_band_parts=16)
    os.remove(os.path.join(path, "_index_params.json"))
    with pytest.raises(FileNotFoundError, match="_index_params.json"):
        minhash_probe_indexed(spark, path, batch, "doc_id", "text")


def test_minhash_append_heal_replays_torn_swap(spark, sf_dir, tmp_path):
    """A crash after the append manifest commit but mid-moves leaves
    staged parquet invisible to readers; the next probe's heal loop
    must finish the swap before reading, so answers equal the fresh
    build's — the sources/index_store crash-safety discipline."""
    import glob
    import json
    import os

    from pyspark.sql import functions as F

    from udacity_data_engineering_capstone_project_spark.functions.hashing import (
        spark_hex_to_long,
    )
    from udacity_data_engineering_capstone_project_spark.operators.dedup import (
        append_minhash_index,
        minhash_probe_indexed,
        write_minhash_index,
    )
    from udacity_data_engineering_capstone_project_spark.plans.queries_parity import _t

    docs = _t(spark, sf_dir, "documents")
    b = F.expr(spark_hex_to_long("md5(CAST(doc_id AS STRING))", 7)) % 100
    part_a = docs.filter(b < 80)
    part_b = docs.filter((b >= 80) & (b < 90))
    probe = docs.filter(b >= 90)

    path = str(tmp_path / "mh_tear")
    write_minhash_index(part_a, path)
    append_minhash_index(part_b, path)

    # simulate the tear: yank one appended postings file back into a
    # staging dir and leave a committed manifest pointing at the move
    appended = sorted(
        glob.glob(os.path.join(path, "postings", "*", "app-*.parquet"))
    )
    assert appended, "append left no tagged postings files"
    victim = appended[0]
    part_dir = os.path.basename(os.path.dirname(victim))
    tmp_dir = os.path.join(path, "_append_tear")
    staged = os.path.join(tmp_dir, "postings", part_dir, os.path.basename(victim))
    os.makedirs(os.path.dirname(staged))
    os.replace(victim, staged)
    with open(os.path.join(path, "_pending_append_tear.json"), "w") as fh:
        json.dump({"moves": [[staged, victim]], "tmp_dir": tmp_dir}, fh)

    fresh_path = str(tmp_path / "mh_tear_fresh")
    write_minhash_index(part_a.unionByName(part_b), fresh_path)
    got = _mh_pairs(minhash_probe_indexed(spark, path, probe, "doc_id", "text"))
    want = _mh_pairs(
        minhash_probe_indexed(spark, fresh_path, probe, "doc_id", "text")
    )
    assert got == want and len(got) > 0
    assert not glob.glob(os.path.join(path, "_pending_append_*"))
    assert not glob.glob(os.path.join(path, "_append_*"))


def test_minhash_append_gc_spares_live_staging_with_stale_marker(tmp_path):
    """The staging GC's liveness signal is the NEWEST mtime under the
    staging dir, not the ``.inprogress`` marker's: the marker is
    written once at staging start, so a staging write that outlives
    the grace window would otherwise become GC-eligible to a
    concurrent probe's heal loop MID-WRITE — the exact race the marker
    was added to close (VERDICT r9 wrong #3). A dir whose marker is
    hours old but whose files are still being written must survive;
    a dir silent for the full window must be collected."""
    import os
    import time

    from udacity_data_engineering_capstone_project_spark.sources.index_store import (
        _APPEND_GC_GRACE_S,
        _heal_pending_appends,
    )

    idx = tmp_path / "mh_gc"
    idx.mkdir()
    stale = time.time() - 2 * _APPEND_GC_GRACE_S

    # live long-running staging: marker older than the grace window,
    # but a data file written moments ago (the writer is mid-flight)
    live = idx / "_append_live"
    (live / "postings").mkdir(parents=True)
    (live / ".inprogress").touch()
    os.utime(live / ".inprogress", (stale, stale))
    (live / "postings" / "part-0.parquet").write_bytes(b"x")

    # true crash orphan: marker AND every file older than the window
    dead = idx / "_append_dead"
    (dead / "postings").mkdir(parents=True)
    (dead / ".inprogress").touch()
    (dead / "postings" / "part-0.parquet").write_bytes(b"x")
    for p in [dead / ".inprogress", dead / "postings" / "part-0.parquet"]:
        os.utime(p, (stale, stale))

    # markerless leftover: pre-marker crash — garbage regardless of age
    bare = idx / "_append_bare"
    bare.mkdir()
    (bare / "junk").write_bytes(b"x")

    _heal_pending_appends(str(idx))
    assert live.exists(), "GC collected a live staging dir mid-write"
    assert not dead.exists(), "GC spared a fully-stale crash orphan"
    assert not bare.exists(), "GC spared a markerless leftover"


def test_minhash_compact_preserves_answers_and_drops_files(
    spark, sf_dir, tmp_path
):
    """build -> append x2 -> COMPACT -> serve: compaction must shrink
    the per-dir file count (append leaves one file per batch per
    touched dir) while probe answers stay exactly the fresh build's."""
    import glob
    import os

    from pyspark.sql import functions as F

    from udacity_data_engineering_capstone_project_spark.functions.hashing import (
        spark_hex_to_long,
    )
    from udacity_data_engineering_capstone_project_spark.operators.dedup import (
        append_minhash_index,
        compact_minhash_index,
        minhash_probe_indexed,
        write_minhash_index,
    )
    from udacity_data_engineering_capstone_project_spark.plans.queries_parity import _t

    docs = _t(spark, sf_dir, "documents")
    b = F.expr(spark_hex_to_long("md5(CAST(doc_id AS STRING))", 7)) % 100
    part_a = docs.filter(b < 70)
    part_b1 = docs.filter((b >= 70) & (b < 80))
    part_b2 = docs.filter((b >= 80) & (b < 90))
    probe = docs.filter(b >= 90)

    path = str(tmp_path / "mh_cmp")
    write_minhash_index(part_a, path)
    append_minhash_index(part_b1, path)
    append_minhash_index(part_b2, path)
    n_files = lambda: len(  # noqa: E731
        glob.glob(os.path.join(path, "*", "*", "*.parquet"))
    )
    before = n_files()
    stats = compact_minhash_index(spark, path)
    assert stats["dirs_compacted"] > 0
    assert stats["files_after"] < stats["files_before"] == before
    assert n_files() == stats["files_after"]

    fresh_path = str(tmp_path / "mh_cmp_fresh")
    write_minhash_index(
        part_a.unionByName(part_b1).unionByName(part_b2), fresh_path
    )
    got = _mh_pairs(minhash_probe_indexed(spark, path, probe, "doc_id", "text"))
    want = _mh_pairs(
        minhash_probe_indexed(spark, fresh_path, probe, "doc_id", "text")
    )
    assert got == want and len(got) > 0


def test_minhash_compact_heal_closes_duplicate_window(spark, sf_dir, tmp_path):
    """A crash after the compaction manifest commit with moves done but
    small-file deletes pending leaves BOTH copies on disk; the heal
    loop must finish the deletes before any probe reads, or every
    compacted row double-counts."""
    import glob
    import json
    import os

    from pyspark.sql import functions as F

    from udacity_data_engineering_capstone_project_spark.functions.hashing import (
        spark_hex_to_long,
    )
    from udacity_data_engineering_capstone_project_spark.operators.dedup import (
        append_minhash_index,
        compact_minhash_index,
        minhash_probe_indexed,
        write_minhash_index,
    )
    from udacity_data_engineering_capstone_project_spark.plans.queries_parity import _t

    docs = _t(spark, sf_dir, "documents")
    b = F.expr(spark_hex_to_long("md5(CAST(doc_id AS STRING))", 7)) % 100
    part_a = docs.filter(b < 80)
    part_b = docs.filter((b >= 80) & (b < 90))
    probe = docs.filter(b >= 90)

    path = str(tmp_path / "mh_dup")
    write_minhash_index(part_a, path)
    append_minhash_index(part_b, path)
    want = _mh_pairs(minhash_probe_indexed(spark, path, probe, "doc_id", "text"))

    # threshold 1 forces compaction with a single append (2 files/dir)
    compact_minhash_index(spark, path, small_file_threshold=1)
    # simulate the tear: resurrect a duplicate of one compacted file
    # and a manifest whose moves are complete but deletes are pending
    victim = sorted(
        glob.glob(os.path.join(path, "postings", "*", "compact-*.parquet"))
    )[0]
    dup = os.path.join(os.path.dirname(victim), "app-stale-part-0.parquet")
    import shutil

    shutil.copyfile(victim, dup)
    tmp_dir = os.path.join(path, "_append_dupsim")
    os.makedirs(tmp_dir, exist_ok=True)
    with open(os.path.join(path, "_pending_append_dupsim.json"), "w") as fh:
        json.dump({"moves": [], "tmp_dir": tmp_dir, "delete": [dup]}, fh)

    got = _mh_pairs(minhash_probe_indexed(spark, path, probe, "doc_id", "text"))
    assert got == want
    assert not os.path.exists(dup)
    assert not glob.glob(os.path.join(path, "_pending_append_*"))


def test_minhash_probe_eager_unpersists_intermediates(spark, sf_dir, tmp_path):
    """Continuous serving (ADVICE r7): a loop probes each batch inside
    its own resource scope, and closing the scope releases every probe
    intermediate, so blocks do not accumulate batch over batch."""
    from pyspark.sql import functions as F

    from udacity_data_engineering_capstone_project_spark.functions.hashing import (
        spark_hex_to_long,
    )
    from udacity_data_engineering_capstone_project_spark.operators.dedup import (
        minhash_probe_indexed,
        write_minhash_index,
    )
    from udacity_data_engineering_capstone_project_spark.plans.queries_parity import _t
    from udacity_data_engineering_capstone_project_spark.session import resource_scope

    docs = _t(spark, sf_dir, "documents")
    b = F.expr(spark_hex_to_long("md5(CAST(doc_id AS STRING))", 7)) % 100
    index_docs, batch = docs.filter(b < 90), docs.filter(b >= 90)
    path = str(tmp_path / "mh_eager")
    write_minhash_index(index_docs, path)

    with resource_scope():
        lazy = _mh_pairs(minhash_probe_indexed(spark, path, batch, "doc_id", "text"))
    # snapshot cached-RDD ids BEFORE the served batch: the assertion must
    # judge only blocks THIS batch created, not other tests' leftovers
    jsc = spark.sparkContext._jsc.sc()
    before = {x.id() for x in jsc.getRDDStorageInfo()}
    with resource_scope():
        served = _mh_pairs(minhash_probe_indexed(spark, path, batch, "doc_id", "text"))
        assert [x for x in jsc.getRDDStorageInfo() if x.id() not in before]
    assert served == lazy and lazy
    new_cached = [x for x in jsc.getRDDStorageInfo() if x.id() not in before]
    assert new_cached == [], [str(x) for x in new_cached]


def test_affine_minhash_blocked_matches_one_liner():
    """The cache-blocked minhash expansion must be bit-identical to
    the single-expression (flat[:,None]*a + b) % P it replaced."""
    import numpy as np

    from udacity_data_engineering_capstone_project_spark.functions.hashing import (
        MINHASH_PRIME,
        minhash_coefficients,
    )
    from udacity_data_engineering_capstone_project_spark.operators.dedup import (
        _affine_minhash_blocked,
    )

    rng = np.random.default_rng(11)
    flat = rng.integers(0, 1 << 28, size=20_001).astype(np.int64)
    coeffs = minhash_coefficients(64)
    a = np.array([x for x, _ in coeffs], dtype=np.int64)
    b = np.array([x for _, x in coeffs], dtype=np.int64)
    want = (flat[:, None] * a + b) % MINHASH_PRIME
    got = _affine_minhash_blocked(flat, a, b, chunk=999)  # non-divisor chunk
    assert (want == got).all()


def test_knn_self_topk_arrow_matches_brute_force(spark, sf_dir):
    """The vectorized self-kNN kernel must reproduce brute_force_topk
    (and hence the oracle) exactly: same neighbors, same rounded
    cosines, same ranks."""
    from udacity_data_engineering_capstone_project_spark.operators.similarity import (
        brute_force_topk,
        knn_self_topk_arrow,
    )
    from udacity_data_engineering_capstone_project_spark.plans.queries_parity import _t

    emb = _t(spark, sf_dir, "embeddings")
    want = {
        (r.query_id, r.rank): (r.neighbor_id, r.cos_sim)
        for r in brute_force_topk(emb, emb, "vec_id", "embedding", k=5).collect()
    }
    got = {
        (r.query_id, r.rank): (r.neighbor_id, r.cos_sim)
        for r in knn_self_topk_arrow(emb, "vec_id", "embedding", k=5).collect()
    }
    assert got == want and len(got) > 0


def test_ivf_self_topk_arrow_matches_ivf_topk(spark, sf_dir):
    """The per-cell Arrow self-kNN (the hubness audit's deployment
    path) must reproduce ivf_topk run with the whole corpus as the
    query set: same neighbors, same rounded cosines, same ranks —
    pinning that routing + per-cell top-k + global re-rank is the
    same algorithm as broadcast-probe IVF, just shuffled by cell."""
    from udacity_data_engineering_capstone_project_spark.operators.similarity import (
        ivf_self_topk_arrow,
        ivf_topk,
    )
    from udacity_data_engineering_capstone_project_spark.plans.queries_parity import _t

    emb = _t(spark, sf_dir, "embeddings")
    cents = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    want = {
        (r.query_id, r.rank): (r.neighbor_id, r.cos_sim)
        for r in ivf_topk(
            emb, emb, cents, "vec_id", "embedding", "centroid_id", k=5, nprobe=2
        ).collect()
    }
    got = {
        (r.query_id, r.rank): (r.neighbor_id, r.cos_sim)
        for r in ivf_self_topk_arrow(
            emb, cents, "vec_id", "embedding", "centroid_id", k=5, nprobe=2
        ).collect()
    }
    assert got == want and len(got) > 0


def test_ivf_topk_two_level_matches_self_kernel(spark, sf_dir):
    """The serving path's two-level geometry (ivf_topk(two_level=True))
    must equal the audit kernel's (ivf_self_topk_arrow(two_level=True))
    when the corpus queries itself — members and probers share the
    hierarchical router, so the per-cell candidate containment
    property holds under the bounded-population dial too."""
    from udacity_data_engineering_capstone_project_spark.operators.similarity import (
        ivf_self_topk_arrow,
        ivf_topk,
    )
    from udacity_data_engineering_capstone_project_spark.plans.queries_parity import _t

    emb = _t(spark, sf_dir, "embeddings")
    cents = emb.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    want = {
        (r.query_id, r.rank): (r.neighbor_id, r.cos_sim)
        for r in ivf_topk(
            emb, emb, cents, "vec_id", "embedding", "centroid_id",
            k=5, nprobe=2, two_level=True,
        ).collect()
    }
    got = {
        (r.query_id, r.rank): (r.neighbor_id, r.cos_sim)
        for r in ivf_self_topk_arrow(
            emb, cents, "vec_id", "embedding", "centroid_id",
            k=5, nprobe=2, two_level=True,
        ).collect()
    }
    assert got == want and len(got) > 0


def test_routing_plan_refuses_over_budget_centroid_collect(
    spark, sf_dir, monkeypatch
):
    """VERDICT r11 #3: with the bounded-population dial the centroid
    count grows linearly with the corpus, so two more decades would
    collect ~200 MB of centroid matrix to the driver PER PLAN BUILD.
    _centroid_routing_plan must refuse (ValueError naming the
    successors) a collect that would exceed _ROUTING_PLAN_MAX_BYTES —
    a clear error at plan build, not a driver OOM mid-collect — and
    the same table must build fine when the budget accommodates it."""
    import pytest

    import udacity_data_engineering_capstone_project_spark.operators.similarity as sim
    from udacity_data_engineering_capstone_project_spark.plans.queries_parity import _t

    emb = _t(spark, sf_dir, "embeddings")
    cents = emb.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    # 16 cells x dim 64 x 8 B = 8 KiB: over a 4 KiB budget, under 16 KiB
    monkeypatch.setattr(sim, "_ROUTING_PLAN_MAX_BYTES", 4 << 10)
    with pytest.raises(ValueError, match="routing-plan budget"):
        sim._centroid_routing_plan(cents, "centroid_id", "embedding")

    monkeypatch.setattr(sim, "_ROUTING_PLAN_MAX_BYTES", 16 << 10)
    bc, n_cells, n_coarse, w_coarse, use_two = sim._centroid_routing_plan(
        cents, "centroid_id", "embedding", two_level=True
    )
    try:
        assert n_cells == 16 and use_two and n_coarse == 4
    finally:
        bc.destroy()


def test_destroy_routing_broadcast_is_idempotent(spark, sf_dir):
    """The harness post-action hook (ADVICE r11): what a query built
    outside any resource scope holds is released exactly once; a second
    call, for this or any other DataFrame, is a no-op."""
    from udacity_data_engineering_capstone_project_spark.operators.similarity import (
        destroy_routing_broadcast,
    )
    from udacity_data_engineering_capstone_project_spark.plans.queries_llm import (
        ann_topk_ivf,
    )

    df = ann_topk_ivf(spark, sf_dir)
    assert df.count() > 0  # final action first, then destroy
    assert destroy_routing_broadcast(df) is True
    assert destroy_routing_broadcast(df) is False  # cleared handle
    plain = spark.range(3)
    assert destroy_routing_broadcast(plain) is False


def test_two_level_routing_with_all_branches_probed_equals_flat(spark, sf_dir):
    """Two-level routing that probes EVERY coarse branch ranks exactly
    the full fine-centroid set, so it must be bit-identical to flat
    routing — exercising the branch-signature grouping, the candidate
    gather/sort, and the per-group rank mapping with a ground truth
    that doesn't depend on the hierarchy's approximation."""
    from udacity_data_engineering_capstone_project_spark.operators.similarity import (
        _nearest_cells_arrow,
    )
    from udacity_data_engineering_capstone_project_spark.plans.queries_parity import _t

    emb = _t(spark, sf_dir, "embeddings")
    cents = emb.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    src = emb.select(
        F.col("vec_id").alias("id"),
        F.col("embedding").cast("array<double>").alias("v"),
    )

    def routes(two_level, coarse_probe=2):
        df = _nearest_cells_arrow(
            src, "id", "v", cents, "centroid_id", "embedding",
            nprobe=2, with_rank=True,
            two_level=two_level, coarse_probe=coarse_probe,
        )
        return {(r.id, r.probe_rank): r.centroid_id for r in df.collect()}

    flat = routes(two_level=False)
    # n_coarse = ceil(sqrt(16)) = 4; probing all 4 branches = flat
    assert routes(two_level=True, coarse_probe=4) == flat and len(flat) > 0
    # the real hierarchy (2 of 4 branches) must still produce a full,
    # deterministic probe set: 2 cells per vector, rank-1 = membership
    narrowed = routes(two_level=True, coarse_probe=2)
    assert {key[0] for key in narrowed} == {key[0] for key in flat}
    assert all(
        (vid, 1) in narrowed and (vid, 2) in narrowed
        for vid in {key[0] for key in narrowed}
    )


def test_nearest_cells_router_exposes_broadcast_handle(spark, sf_dir):
    """The routing kernel must ship centroids via sc.broadcast (not
    closure capture — VERDICT r9 wrong #2), held in the caller's
    resource scope, which destroys it on close."""
    from pyspark import Broadcast

    from udacity_data_engineering_capstone_project_spark.operators.similarity import (
        ivf_topk,
    )
    from udacity_data_engineering_capstone_project_spark.plans.queries_parity import _t
    from udacity_data_engineering_capstone_project_spark.session import resource_scope

    emb = _t(spark, sf_dir, "embeddings")
    cents = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    with resource_scope() as scope:
        out = ivf_topk(emb.filter(F.col("vec_id") < 20), emb, cents)
        (bc,) = [x for x in scope.held if isinstance(x, Broadcast)]
        ids, mat, norms, members = bc.value
        assert len(ids) == 8 and mat.shape[0] == 8 and len(norms) == 8
        assert out.count() > 0


def test_minhash_auto_compact_rewrites_only_crossing_dirs(spark, tmp_path):
    """ADVICE r11 scope contract, minhash side (parity with the
    trigram pin): the append trigger passes the touched dirs that
    crossed the threshold to compact_minhash_index — an untouched
    bp=/dp= dir is NEVER rewritten (file list byte-identical across
    the append), so one crossing batch pays O(crossing dirs), not a
    near-full-index rewrite on a wide index."""
    import glob
    import os

    from udacity_data_engineering_capstone_project_spark.operators.dedup import (
        append_minhash_index,
        compact_minhash_index,
        minhash_probe_indexed,
        write_minhash_index,
    )

    base = spark.createDataFrame(
        [
            (i, f"document number {i} talks about topic {i % 3} with "
                f"shared boilerplate text and unique suffix {i * 17}")
            for i in range(12)
        ],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (100, "document number 100 talks about topic 1 with shared "
                  "boilerplate text and unique suffix 1700"),
            (101, "an entirely different record about weather patterns"),
        ],
        "doc_id long, text string",
    )
    path = str(tmp_path / "mh_scope")
    write_minhash_index(base, path)
    compact_minhash_index(spark, path, small_file_threshold=1)

    def snapshot():
        out = {}
        for sub in ("postings", "sets"):
            for d in glob.glob(os.path.join(path, sub, "*")):
                if os.path.isdir(d):
                    out[d] = sorted(
                        os.path.basename(f)
                        for f in glob.glob(os.path.join(d, "*.parquet"))
                    )
        return out

    before = snapshot()
    stats = append_minhash_index(batch, path, auto_compact_threshold=2)
    assert stats["auto_compacted"], "threshold 2 must trigger on a touched dir"
    after = snapshot()

    changed = {
        d for d in set(before) | set(after) if before.get(d) != after.get(d)
    }
    untouched = set(before) - changed
    assert untouched, "batch touched every dir; shrink the batch"
    for d in untouched:
        assert before[d] == after[d], (d, before[d], after[d])
    for d in changed:
        files = after.get(d, [])
        assert len(files) == 1, (d, files)
        assert files[0].startswith(("compact-", "app-")), (d, files)

    # appended index still answers like a fresh build over the union
    probe = spark.createDataFrame(
        [(200, "document number 5 talks about topic 2 with shared "
               "boilerplate text and unique suffix 85")],
        "doc_id long, text string",
    )
    fresh = str(tmp_path / "mh_scope_fresh")
    write_minhash_index(base.unionByName(batch), fresh)
    got = _mh_pairs(minhash_probe_indexed(spark, path, probe, "doc_id", "text"))
    want = _mh_pairs(minhash_probe_indexed(spark, fresh, probe, "doc_id", "text"))
    assert got == want


def test_minhash_append_auto_compacts_and_writer_tolerates_healer(
    spark, sf_dir, tmp_path
):
    """(1) Auto-compaction parity with the trigram index: at threshold
    2 every append triggers compact_minhash_index, so the layout
    converges to one file per touched dir and probes still equal a
    fresh build. (2) ADVICE r10 writer/healer race: a concurrent
    probe's heal loop may replay the writer's just-committed manifest
    first — simulated by healing the manifest before the writer's own
    swap executes (_commit_manifest_swap must tolerate already-moved
    srcs and the missing manifest instead of raising)."""
    import glob
    import os

    from pyspark.sql import functions as F

    from udacity_data_engineering_capstone_project_spark.functions.hashing import (
        spark_hex_to_long,
    )
    from udacity_data_engineering_capstone_project_spark.operators.dedup import (
        append_minhash_index,
        minhash_probe_indexed,
        write_minhash_index,
    )
    from udacity_data_engineering_capstone_project_spark.sources.index_store import (
        _commit_manifest_swap,
        _heal_pending_appends,
    )
    from udacity_data_engineering_capstone_project_spark.plans.queries_parity import _t

    docs = _t(spark, sf_dir, "documents")
    b = F.expr(spark_hex_to_long("md5(CAST(doc_id AS STRING))", 7)) % 100
    part_a = docs.filter(b < 70)
    part_b1 = docs.filter((b >= 70) & (b < 80))
    part_b2 = docs.filter((b >= 80) & (b < 90))
    probe = docs.filter(b >= 90)

    path = str(tmp_path / "mh_auto")
    write_minhash_index(part_a, path)
    s1 = append_minhash_index(part_b1, path, auto_compact_threshold=2)
    s2 = append_minhash_index(part_b2, path, auto_compact_threshold=2)
    assert s1["auto_compacted"] and s2["auto_compacted"]
    for sub in ("postings", "sets"):
        for d in glob.glob(os.path.join(path, sub, "*")):
            if not os.path.isdir(d):
                continue  # _SUCCESS marker from the initial build
            files = glob.glob(os.path.join(d, "*.parquet"))
            assert len(files) == 1, (d, files)

    fresh = str(tmp_path / "mh_auto_fresh")
    write_minhash_index(part_a.unionByName(part_b1).unionByName(part_b2), fresh)
    got = _mh_pairs(minhash_probe_indexed(spark, path, probe, "doc_id", "text"))
    want = _mh_pairs(minhash_probe_indexed(spark, fresh, probe, "doc_id", "text"))
    assert got == want

    # (2) writer/healer race: build a real manifest, heal it (the
    # concurrent probe), then run the writer's own swap — must be a
    # clean no-op, not FileNotFoundError.
    import json as _json

    src_dir = os.path.join(path, "_append_race", "staged")
    os.makedirs(src_dir)
    src = os.path.join(src_dir, "part-race.parquet")
    victim = glob.glob(os.path.join(path, "postings", "*", "*.parquet"))[0]
    os.replace(victim, src)
    manifest = os.path.join(path, "_pending_append_race.json")
    with open(manifest, "w") as fh:
        _json.dump(
            {"moves": [[src, victim]], "tmp_dir": os.path.dirname(src_dir)}, fh
        )
    _heal_pending_appends(path)  # the probe's heal replays the swap
    assert os.path.exists(victim) and not os.path.exists(manifest)
    # writer executes the same plan afterwards: idempotent no-op
    _commit_manifest_swap(manifest, [[src, victim]])
    assert os.path.exists(victim)


def test_heal_tolerates_concurrent_executor_of_same_manifest(
    spark, tmp_path, monkeypatch
):
    """ADVICE r11 (the other side of the r10 writer/healer fix): under
    the one-writer/many-probes contract, a probe healing while the
    WRITER (or another probe) finishes the same manifest can find every
    step already done — srcs moved, delete targets gone, the manifest
    itself removed between glob and open. The heal loop must treat all
    of those as 'already executed' and converge, never raise
    FileNotFoundError."""
    import glob as glob_mod
    import json as _json
    import os

    from udacity_data_engineering_capstone_project_spark.sources.index_store import (
        _heal_pending_appends,
    )

    path = str(tmp_path / "mh_heal_race")
    os.makedirs(os.path.join(path, "postings", "bp=0"), exist_ok=True)

    # (1) a manifest whose plan was FULLY executed by a concurrent
    # executor: src gone (already moved), dst present, delete target
    # gone, tmp_dir gone — heal must finish it (remove the manifest)
    dst = os.path.join(path, "postings", "bp=0", "app-done-part-0.parquet")
    with open(dst, "w") as fh:
        fh.write("x")
    executed = os.path.join(path, "_pending_append_done.json")
    with open(executed, "w") as fh:
        _json.dump(
            {
                "moves": [
                    [os.path.join(path, "_append_done", "gone.parquet"), dst]
                ],
                "delete": [os.path.join(path, "postings", "bp=0", "old.parquet")],
                "tmp_dir": os.path.join(path, "_append_done"),
            },
            fh,
        )
    # (2) a manifest that VANISHES between glob and open (the
    # concurrent executor removed it as its last step): inject a
    # phantom path into the glob result
    phantom = os.path.join(path, "_pending_append_phantom.json")
    real_glob = glob_mod.glob

    def fake_glob(pat, *a, **k):
        res = real_glob(pat, *a, **k)
        if pat.endswith("_pending_append_*.json"):
            res = sorted(res + [phantom])
        return res

    monkeypatch.setattr(glob_mod, "glob", fake_glob)
    _heal_pending_appends(path)  # must not raise on (1) or (2)
    assert os.path.exists(dst)
    assert not os.path.exists(executed)


def test_pair_intersect_kernel_drops_missing_ids(spark):
    """_pair_intersect_kernel must DROP a candidate pair whose doc id
    is absent from the broadcast digest store — the inner-join
    semantics of the broadcast-join verify it replaced (VERDICT r12
    #3 / ADVICE r12: the r12 dict lookup raised KeyError and killed
    the whole task) — and still emit exact counts for present pairs."""
    import numpy as np
    import pandas as pd

    from udacity_data_engineering_capstone_project_spark.operators.dedup import (
        _pair_intersect_kernel,
    )

    # store: doc 1 -> {10, 11, 12}; doc 2 -> {11, 12, 13}; doc 5 -> {10}
    doc_ids = np.array([1, 2, 5], dtype=np.int64)
    lens = np.array([3, 3, 1], dtype=np.int64)
    offsets = np.array([0, 3, 6], dtype=np.int64)
    flat = np.array([10, 11, 12, 11, 12, 13, 10], dtype=np.int64)

    class FakeBC:
        value = (doc_ids, offsets, lens, flat)

    gen = _pair_intersect_kernel(FakeBC(), "doc_a", "doc_b", 1, 2)
    pdf = pd.DataFrame(
        {
            "doc_a": np.array([1, 1, 99, 5], dtype=np.int64),
            "doc_b": np.array([2, 5, 2, 98], dtype=np.int64),
        }
    )
    out = pd.concat(list(gen(iter([pdf]))), ignore_index=True)
    # (1,2): inter 2 union 4 -> J=1/2 passes; (1,5): inter 1 union 3
    # fails at 1/2; (99,2) and (5,98) DROPPED (missing side), not raised
    assert out.to_dict("records") == [
        {"doc_a": 1, "doc_b": 2, "inter_size": 2, "union_size": 4}
    ]

    # empty store: every pair dropped, no error
    class EmptyBC:
        value = (
            np.empty(0, np.int64),
            np.empty(0, np.int64),
            np.empty(0, np.int64),
            np.empty(0, np.int64),
        )

    assert list(_pair_intersect_kernel(EmptyBC(), "doc_a", "doc_b", 1, 2)(iter([pdf]))) == []
