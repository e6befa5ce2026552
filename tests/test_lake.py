"""Lake-surface tests: MERGE semantics decomposition, SCD2 interval
chaining, and the weighted-sample bias/determinism properties."""

from __future__ import annotations

from conversadocs_spark import io
from conversadocs_spark.plans.registry import QUERIES


def test_merge_upsert_semantics(spark, sf_dir):
    target = {
        r.c_custkey: r
        for r in io.table(spark, sf_dir, "customer").collect()
    }
    out = QUERIES["merge_upsert"](spark, sf_dir).collect()
    by_key = {r.c_custkey: r for r in out}
    assert len(by_key) == len(out)  # key stays unique after merge
    for k, t in target.items():
        if k % 13 == 0:
            assert k not in by_key  # deletes win (even over updates)
        elif k % 7 == 0:
            r = by_key[k]
            assert r.merge_action == "updated"
            assert r.c_acctbal == round(t.c_acctbal + 100.5, 2)
            assert r.c_mktsegment == "UPDATED"
        else:
            r = by_key[k]
            assert r.merge_action == "kept"
            assert (r.c_acctbal, r.c_mktsegment) == (
                t.c_acctbal,
                t.c_mktsegment,
            )
    inserts = [r for r in out if r.merge_action == "inserted"]
    expected_inserts = [k for k in target if k % 17 == 0]
    assert sorted(r.c_custkey for r in inserts) == sorted(
        k + 1000000 for k in expected_inserts
    )
    for r in inserts:
        assert r.c_name == f"Customer#NEW{r.c_custkey - 1000000}"
        assert r.c_acctbal == 0.0


def test_scd2_intervals_chain(spark, sf_dir):
    rows = QUERIES["scd2_history"](spark, sf_dir).collect()
    per_cust: dict[int, list] = {}
    for r in rows:
        per_cust.setdefault(r.custkey, []).append(r)
    assert per_cust  # non-vacuous
    for versions in per_cust.values():
        versions.sort(key=lambda r: (r.valid_from, r.orderkey))
        assert sum(r.is_current for r in versions) == 1
        assert versions[-1].is_current and versions[-1].valid_to is None
        for a, b in zip(versions, versions[1:]):
            assert a.valid_to == b.valid_from  # gapless chain
            assert a.valid_from <= a.valid_to  # no inverted interval


def test_weighted_sample_bias_and_determinism(spark, sf_dir):
    out1 = QUERIES["weighted_sample"](spark, sf_dir).collect()
    out2 = QUERIES["weighted_sample"](spark, sf_dir).collect()
    assert [tuple(r) for r in out1] == [tuple(r) for r in out2]
    assert len(out1) == 100
    corpus = io.table(spark, sf_dir, "documents").collect()
    corpus_mean = sum(r.n_chars for r in corpus) / len(corpus)
    sample_mean = sum(r.n_chars for r in out1) / len(out1)
    # length-weighted inclusion must skew the sample long
    assert sample_mean > corpus_mean


def test_table_diff_detects_exactly_the_injected_changes(
    spark, sf_oracle_dir
):
    """Semantic decomposition: 'removed' keys are exactly v1 % 7 == 0,
    'added' keys are exactly the +2000000 inserts, 'changed' keys are
    exactly the surviving % 5 == 0 rows with delta +10.00."""
    from conversadocs_spark.plans import QUERIES

    rows = QUERIES["table_diff"](spark, sf_oracle_dir).collect()
    by_change = {}
    for r in rows:
        by_change.setdefault(r["change"], []).append(r)
    for r in by_change["removed"]:
        assert r["o_orderkey"] % 7 == 0 and r["o_orderkey"] % 3 != 0
        assert r["new_totalprice"] is None
    for r in by_change["added"]:
        assert r["o_orderkey"] >= 2000000  # orderkey 0 maps to exactly 2000000
        assert r["old_totalprice"] is None
    for r in by_change["changed"]:
        assert r["o_orderkey"] % 5 == 0 and r["o_orderkey"] % 7 != 0
        assert (
            abs(r["new_totalprice"] - r["old_totalprice"] - 10.0) < 1e-6
        )
    assert all(len(v) > 0 for v in by_change.values())


def test_lake_zorder_scan_matches_oracle(spark, sf_oracle_dir):
    from tests.oracle import assert_query_matches_oracle

    assert_query_matches_oracle(spark, "lake_zorder_scan", sf_oracle_dir)


def test_lake_compact_files_matches_oracle(spark, sf_oracle_dir):
    from tests.oracle import assert_query_matches_oracle

    assert_query_matches_oracle(spark, "lake_compact_files", sf_oracle_dir)


def test_lake_compact_collapses_file_count(spark, sf_oracle_dir, call_dirs):
    """The staged fragmentation (64 shards) must collapse to the
    4-partition target; every surviving file respects
    maxRecordsPerFile; row totals are unchanged."""
    import os

    from conversadocs_spark.plans import QUERIES

    df = QUERIES["lake_compact_files"](spark, sf_oracle_dir)
    n = df.count()
    (d,) = call_dirs["compact"]
    frag = os.path.join(d, "frag")
    compacted = os.path.join(d, "compacted")

    def parquet_files(p):
        return [f for f in os.listdir(p) if f.endswith(".parquet")]

    assert len(parquet_files(frag)) == 64
    out = parquet_files(compacted)
    assert len(out) <= 4
    import pyarrow.parquet as pq

    total = 0
    for f in out:
        md = pq.ParquetFile(os.path.join(compacted, f)).metadata
        assert md.num_rows <= 500_000
        total += md.num_rows
    assert total == n


def test_lake_optimize_lifecycle_preserves_rows_and_vacuums(
    spark, sf_oracle_dir, call_dirs
):
    """The composed write->compact->zorder->vacuum cadence: every
    stage carries the identical row count and order-insensitive
    content signature; the fragmented v1 collapses 64 -> 4 files by
    v2; after VACUUM v1's directory is physically gone while time
    travel to v2 and the latest marker (v3) still serve the same
    rows."""
    import os

    from conversadocs_spark import io
    from conversadocs_spark.plans import QUERIES
    from conversadocs_spark.sources.sink import read_versioned
    from pyspark.sql import functions as F

    rows = {
        r.stage: r
        for r in QUERIES["lake_optimize_lifecycle"](
            spark, sf_oracle_dir
        ).collect()
    }
    assert set(rows) == {
        "source", "v1_fragmented", "v2_compacted", "v3_zordered",
        "after_vacuum_latest",
    }
    sigs = {(r.n_rows, r.content_sig) for r in rows.values()}
    assert len(sigs) == 1, rows
    assert rows["v1_fragmented"].n_files == 64
    assert rows["v2_compacted"].n_files <= 8
    assert rows["v3_zordered"].n_files <= 8

    (table,) = call_dirs["lifecycle"]
    assert not os.path.exists(os.path.join(table, "v=1"))
    assert os.path.exists(os.path.join(table, "v=2"))

    # exact row-set identity source vs final (signatures could in
    # principle collide; the symmetric difference cannot)
    src = (
        io.table(spark, sf_oracle_dir, "lineitem")
        .where(F.col("l_orderkey") % 13 == 0)
        .select("l_orderkey", "l_partkey", "l_linenumber",
                "l_quantity", "l_extendedprice")
    )
    final = read_versioned(spark, table, None)
    assert final.exceptAll(src).count() == 0
    assert src.exceptAll(final).count() == 0
    # time travel to the retained middle version still works
    assert read_versioned(spark, table, 2).count() == src.count()
