"""Driver-contract checks on __spark_entry__."""

import __spark_entry__ as entry_mod


def test_entry_runs_and_has_stable_schema(spark):
    df = entry_mod.entry(spark)
    assert df.columns == ["r_name", "n_name", "n_items", "revenue_r"]
    assert df.count() > 0


def test_every_query_has_oracle_except_streaming(spark):
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    assert set(oracles) <= set(qs)
    assert set(qs) - set(oracles) == set()  # noqa: C405
    _history = {
        # EVERY query is fully oracled as of round 7.
        # (stream_hourly_counts and stream_sessionize are FULLY oracled
        # since round 3: append-mode emission == the batch twin filtered
        # to watermark-closed windows/sessions)
        # (stream_user_totals — the last rows-only entry — gained a
        # full oracle in round 7: the drained final update-mode
        # emission per user equals the batch groupBy; the x100 fixed
        # point absorbs float-sum order on the 2-decimal value grid)
        # (kmeans_assign and ivf_trained_recall gained full oracles in
        # round 5: the fixed-iteration Lloyd loop from deterministic
        # seeds replayed in DuckDB as chained CTEs)
        # (hll_sketch_rollup and ann_pq_recall gained full oracles in
        # round 3: exact-anchor + tolerance-flag, and exact-re-rank
        # top-10 vs brute force, respectively)
        # (pagerank_near_dup gained a full oracle in round 6: the
        # power loop reruns in x1e12 integer fixed point and the
        # DuckDB oracle replays all 10 iterations as chained CTEs)
        # (bpe_fertility gained a full oracle in round 4: pinned merge
        # table replayed in DuckDB via nested replaces — c62bb08;
        # bpe_train_merges followed in round 6: the full 20-round
        # training loop replays as chained materialized CTEs over
        # |-delimited symbol strings)
    }
    assert len(qs) >= 39


def test_registry_order_is_pinned():
    """The driver records only the first 50 entries, so the registry's
    order is part of the contract: 208 queries, window first."""
    import hashlib

    from udacity_data_engineering_capstone_project_spark.plans.registry import (
        ALL_QUERIES,
    )

    assert len(ALL_QUERIES) == 208
    digest = hashlib.sha256("\n".join(ALL_QUERIES).encode()).hexdigest()
    assert digest == "c73267e22bd5f0e3146cc57c2e1d6475162ff8e23ac079a9950db73b86c6e863"


def test_queries_run_at_smoke_sf(spark, sf_dir):
    # spot-run a representative subset through the public contract
    qs = entry_mod.queries()
    for name in ["tpch_q1", "star_join_agg", "date_dim", "quality_checks"]:
        assert qs[name](spark, sf_dir).count() > 0


def test_survey_s2_inventory_fully_claimed():
    """Every operator ID in SURVEY.md §2 must be claimed by at least
    one acceptance query's coverage tag — the checklist the engine is
    graded against, enforced as a test so a refactor can't silently
    drop coverage."""
    from udacity_data_engineering_capstone_project_spark.plans.queries_parity import (
        PARITY_QUERIES,
    )

    claimed = set()
    for _fn, _oracle, tags in PARITY_QUERIES.values():
        claimed.update(tags.replace("/", " ").split())

    required = (
        [f"S{i}" for i in range(1, 9)]
        + [f"P{i}" for i in range(1, 16)]
        + [f"J{i}" for i in range(1, 6)]
        + [f"A{i}" for i in range(1, 8)]
        + [f"O{i}" for i in range(1, 4)]
        + ["U1", "U-1", "U-2"]
        + [f"F{i}" for i in range(1, 12)]  # F12-F14 are "none used"
    )
    # ranges like "A1-A4" / "F1-F7" in tags expand implicitly:
    for tag in list(claimed):
        if "-" in tag and tag[0] in "SPJAOF" and tag[1:2].isdigit():
            try:
                pre = tag[0]
                lo, hi = tag[1:].split("-")
                hi = hi.lstrip(pre)
                for i in range(int(lo), int(hi) + 1):
                    claimed.add(f"{pre}{i}")
            except ValueError:
                pass

    missing = [t for t in required if t not in claimed]
    # S-tags (sources/sinks) live in sources/ + pipeline tests, not only
    # query tags; everything else must be query-claimed
    missing_hard = [t for t in missing if not t.startswith("S")]
    assert not missing_hard, f"SURVEY §2 items with no claiming query: {missing_hard}"
