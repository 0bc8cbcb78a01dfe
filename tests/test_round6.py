"""Ground-truth tests for the round-6 families: median/MAD outliers, gap
interpolation, CDC apply, blocked record linkage, Count-Min audit, binary
ANN, and the streaming trending report. Each is pinned against a pure-Python
model or hand-computed fixture — independent of the DuckDB oracle path."""

from __future__ import annotations

import datetime as dt

import pyspark.sql.functions as F

from notion_timetracking_etl_spark.queries import REGISTRY


def _write_events(spark, tmp_path, rows):
    df = spark.createDataFrame(
        [(i, ts, uid, et, val, "{}") for i, (ts, uid, et, val) in enumerate(rows)],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    return str(tmp_path)


def test_mad_outliers_lower_median_and_threshold(spark, tmp_path):
    t = dt.datetime
    rows = (
        # type a: values 1..4 and 100 -> median 3, deviations [2,1,0,1,97],
        # MAD (lower median of sorted [0,1,1,2,97]) = 1, outliers: 97 > 5*1
        [(t(2024, 1, 1, h), h, "a", float(v)) for h, v in enumerate([1, 2, 3, 4, 100])]
        # type b even count: [10, 20] -> lower median 10, devs [0,10],
        # MAD = lower median of [0,10] = 0, outlier: dev 10 > 0
        + [(t(2024, 1, 1, 10), 1, "b", 10.0), (t(2024, 1, 1, 11), 2, "b", 20.0)]
    )
    sf_dir = _write_events(spark, tmp_path, rows)
    got = {
        r["event_type"]: (
            r["n_values"], r["median_micros"], r["mad_micros"], r["n_outliers"]
        )
        for r in REGISTRY["robust_outliers_mad"].spark(spark, sf_dir).collect()
    }
    assert got == {
        "a": (5, 3_000_000, 1_000_000, 1),
        "b": (2, 10_000_000, 0, 1),
    }


def test_gap_interpolation_linear_and_edges(spark, tmp_path):
    t = dt.datetime
    rows = [
        # type x present on days 1 and 4: days 2,3 interpolate linearly
        (t(2024, 1, 1), 1, "x", 10.0),
        (t(2024, 1, 4), 2, "x", 40.0),
        # type y present only on day 2: everything else is an edge
        (t(2024, 1, 2), 3, "y", 7.0),
    ]
    sf_dir = _write_events(spark, tmp_path, rows)
    got = {
        (r["day"], r["event_type"]): (r["filled_micros"], r["fill_kind"])
        for r in REGISTRY["events_gap_interpolation"].spark(spark, sf_dir).collect()
    }
    assert got[("2024-01-01", "x")] == (10_000_000, "actual")
    assert got[("2024-01-02", "x")] == (20_000_000, "interp")
    assert got[("2024-01-03", "x")] == (30_000_000, "interp")
    assert got[("2024-01-04", "x")] == (40_000_000, "actual")
    assert got[("2024-01-02", "y")] == (7_000_000, "actual")
    assert got[("2024-01-01", "y")] == (None, "edge")
    assert got[("2024-01-04", "y")] == (None, "edge")
    assert len(got) == 8  # 4-day spine x 2 types


def test_cdc_apply_insert_update_delete_paths(spark, tmp_path):
    # keys: 1 I-only; 3 I+U; 7 I+D (deleted); 21 I+U+D (delete wins)
    d = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(k, k, "O", 100.0, d, "1-URGENT") for k in (1, 3, 7, 21)],
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    got = {
        r["o_orderkey"]: (r["last_seq"], r["last_op"], r["price_micros"], r["status"])
        for r in REGISTRY["cdc_apply_changelog"].spark(spark, str(tmp_path)).collect()
    }
    assert got == {
        1: (1, "I", 100_000_000, "O"),
        3: (2, "U", 101_000_000, "U"),
        # 7 and 21 deleted: absent from the snapshot
    }


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def test_record_linkage_matches_pure_python_model(spark, sf_dir):
    from notion_timetracking_etl_spark.queries.linkage import MAX_BLOCK

    cust = {
        r["c_custkey"]: r["c_name"]
        for r in spark.read.parquet(f"{sf_dir}/customer.parquet")
        .select("c_custkey", "c_name")
        .collect()
    }

    def perturb(k: int, name: str) -> str:
        digits = list(name[9:18])
        m, p = k % 4, (k % 9) + 1
        if m == 1:
            digits[p - 1] = str((int(digits[p - 1]) + 5) % 10)
        elif m == 2:
            for pos, sh in ((8, 3), (9, 7)):
                digits[pos - 1] = str((int(digits[pos - 1]) + sh) % 10)
        elif m == 3:
            for pos in (2, 5, 8):
                digits[pos - 1] = str((int(digits[pos - 1]) + 1) % 10)
        return "Customer#" + "".join(digits)

    def keys(digits: str) -> list[str]:
        return [digits[3:9], digits[0:3] + digits[6:9], digits[0:6]]

    incoming = {k: perturb(k, n) for k, n in cust.items()}
    # master buckets per blocking key, with the saturation prune
    buckets: dict[tuple[int, str], list[int]] = {}
    for k, n in cust.items():
        for j, bk in enumerate(keys(n[9:18])):
            buckets.setdefault((j, bk), []).append(k)
    expected = {}
    for ik, iname in incoming.items():
        cands = set()
        for j, bk in enumerate(keys(iname[9:18])):
            members = buckets.get((j, bk), [])
            if len(members) <= MAX_BLOCK:
                cands.update(members)
        best = None
        for mk in cands:
            d = _lev(iname, cust[mk])
            if d <= 2 and (best is None or (d, mk) < best):
                best = (d, mk)
        expected[ik] = (
            (best[1], best[0], "exact" if best[0] == 0 else "fuzzy")
            if best
            else (None, None, "none")
        )
    got = {
        r["inc_id"]: (r["matched_custkey"], r["lev_distance"], r["match_kind"])
        for r in REGISTRY["record_linkage_blocking"].spark(spark, sf_dir).collect()
    }
    assert got == expected
    # the designed paths actually occur: exacts, fuzzies, and blocking misses
    kinds = {v[2] for v in got.values()}
    assert kinds == {"exact", "fuzzy", "none"}


def test_countmin_overestimates_and_exact_counts_match_python(spark, sf_dir):
    from collections import Counter

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("text").collect()
    counts = Counter()
    for r in docs:
        if r["text"] is not None:
            counts.update(r["text"].strip().lower().split())
    top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    rows = REGISTRY["countmin_token_frequency"].spark(spark, sf_dir).collect()
    assert {(r["item"], r["exact_cnt"]) for r in rows} == set(top)
    for r in rows:
        # the CMS one-sided error invariant: never an underestimate
        assert r["cms_est"] >= r["exact_cnt"], r
        assert r["overcount"] == r["cms_est"] - r["exact_cnt"]


def test_binary_ann_recall_vs_bruteforce(spark, sf_dir):
    brute = {
        (r["query_id"], r["vec_id"])
        for r in REGISTRY["similarity_topk_bruteforce"].spark(spark, sf_dir).collect()
    }
    binq = {
        (r["query_id"], r["vec_id"])
        for r in REGISTRY["similarity_topk_binary"].spark(spark, sf_dir).collect()
    }
    recall = len(brute & binq) / len(brute)
    # measured 0.80 at sf0.001 AND sf0.01 with the 64-deep shortlist
    assert recall >= 0.7, recall
    # rank-1 is always the query itself (cosine 1 with itself)
    for qid in {q for q, _ in binq}:
        assert (qid, qid) in binq


def test_streaming_trending_equals_batch_twin(spark, sf_dir):
    from notion_timetracking_etl_spark.sources.tpch import load_table

    got = REGISTRY["streaming_topk_trending"].spark(spark, sf_dir).collect()
    ev = load_table(spark, sf_dir, "events")
    batch = (
        ev.groupBy(
            F.date_format(
                F.window("ts", "6 hours").getField("start"),
                "yyyy-MM-dd HH:mm:ss",
            ).alias("window_start"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
        .collect()
    )
    per_window: dict[str, list] = {}
    for r in batch:
        per_window.setdefault(r["window_start"], []).append(
            (-r["n_events"], r["event_type"], r["n_events"])
        )
    expected = set()
    for w, items in per_window.items():
        for rank, (_, et, n) in enumerate(sorted(items)[:3], 1):
            expected.add((w, rank, et, n))
    assert {
        (r["window_start"], r["rank"], r["event_type"], r["n_events"]) for r in got
    } == expected


def test_round6_hostile_inputs(spark, tmp_path):
    """NULL/empty hostile probes for the round-6 families (ROBUSTNESS.md
    protocol): NULL values, NULL names, and empty inputs must degrade to
    well-defined outputs, never engine-divergent crashes."""
    t = dt.datetime
    # events with NULL and non-finite values: both fall out of MAD/interp
    rows = [
        (0, t(2024, 1, 1, 5), 1, "a", 1.0, "{}"),
        (1, t(2024, 1, 1, 6), 2, "a", None, "{}"),
        (2, t(2024, 1, 1, 7), 3, "a", float("nan"), "{}"),
        (3, t(2024, 1, 3, 7), 4, "a", 3.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    sf = str(tmp_path)
    mad = {
        r["event_type"]: (r["n_values"], r["median_micros"])
        for r in REGISTRY["robust_outliers_mad"].spark(spark, sf).collect()
    }
    assert mad == {"a": (2, 1_000_000)}  # NULL/NaN excluded, lower median
    gap = {
        (r["day"], r["fill_kind"])
        for r in REGISTRY["events_gap_interpolation"].spark(spark, sf).collect()
    }
    assert gap == {
        ("2024-01-01", "actual"),
        ("2024-01-02", "interp"),
        ("2024-01-03", "actual"),
    }

    # customers with a NULL name: blocking keys go NULL, the record can
    # never match and must surface as kind 'none', not crash or vanish
    cust = spark.createDataFrame(
        [(1, "Customer#000000001", 0, 0.0, "BUILDING"), (2, None, 0, 0.0, "AUTO")],
        "c_custkey long, c_name string, c_nationkey int, c_acctbal double,"
        " c_mktsegment string",
    )
    cust.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "customer.parquet")
    )
    link = {
        r["inc_id"]: r["match_kind"]
        for r in REGISTRY["record_linkage_blocking"].spark(spark, sf).collect()
    }
    assert link[2] == "none" and len(link) == 2

    # documents that are all NULL text: the CMS probe set is empty, not an error
    docs = spark.createDataFrame(
        [(1, None, "en", "web", 0)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    assert REGISTRY["countmin_token_frequency"].spark(spark, sf).count() == 0


def test_hll_stays_in_raw_regime_and_within_error_bounds(spark, sf_dir):
    rows = REGISTRY["hll_distinct_user_days"].spark(spark, sf_dir).collect()
    assert {r["scope"] for r in rows} >= {"all"}
    for r in rows:
        # raw-regime contract: the linear-counting branch (the one op pair —
        # ln — that may differ cross-engine in the last ulp) never triggers
        # on the driver corpus
        assert r["hll_est"] > 2.5 * 32, r
        # m=32 standard error is ~18%; 3 sigma plus slack
        assert abs(r["rel_err"]) < 0.6, r


def test_bitmap_activity_ground_truth(spark, tmp_path):
    t = dt.datetime
    rows = [
        # user 1 active days 0,1,2 (two events day 0): 3 active, 2 consec
        (t(2024, 1, 1, 1), 1, "a", 1.0),
        (t(2024, 1, 1, 2), 1, "a", 1.0),
        (t(2024, 1, 2, 1), 1, "a", 1.0),
        (t(2024, 1, 3, 1), 1, "a", 1.0),
        # user 2 active days 0,2: 2 active, 0 consec
        (t(2024, 1, 1, 5), 2, "b", 1.0),
        (t(2024, 1, 3, 5), 2, "b", 1.0),
    ]
    sf = _write_events(spark, tmp_path, rows)
    got = {
        r["active_days"]: (r["n_users"], r["total_consec_pairs"])
        for r in REGISTRY["bitmap_user_activity"].spark(spark, sf).collect()
    }
    assert got == {3: (1, 2), 2: (1, 0)}


def test_streaming_cdc_upsert_merges_per_batch_with_tombstones(spark, tmp_path):
    import pyspark.sql.functions as F

    from notion_timetracking_etl_spark.queries.cdc import (
        apply_changelog,
        changelog_from_orders,
    )
    from notion_timetracking_etl_spark.streaming import upsert_drain

    d = dt.datetime(2024, 1, 1)
    orders = spark.createDataFrame(
        [(k, k, "O", 100.0, d, "1-URGENT") for k in (1, 3, 7, 21)],
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    changelog = changelog_from_orders(orders)
    clog_dir = str(tmp_path / "changelog")
    for seq in (1, 2, 3):
        changelog.filter(F.col("seq") == seq).coalesce(1).write.mode(
            "append"
        ).parquet(clog_dir)
    final, batches = upsert_drain(spark, clog_dir, str(tmp_path / "ckpt"))
    assert batches == 3  # one micro-batch per seq wave
    state = {r["k"]: (r["seq"], r["op"]) for r in final.collect()}
    # tombstones persist in state (so late batches cannot resurrect keys)
    assert state[7] == (3, "D") and state[21] == (3, "D")
    assert state[1] == (1, "I") and state[3] == (2, "U")
    # the drained snapshot == the batch apply of the same changelog
    snap = {
        r["o_orderkey"]
        for r in final.filter(F.col("op") != "D")
        .select(F.col("k").alias("o_orderkey"))
        .collect()
    }
    batch_snap = {
        r["o_orderkey"] for r in apply_changelog(changelog).collect()
    }
    assert snap == batch_snap == {1, 3}


def test_changepoint_cusum_ground_truth(spark, tmp_path):
    t = dt.datetime
    # mean shift after day 3: [10,10,10] -> [50,50,50]
    rows = [
        (t(2024, 1, d, 1), d, "a", 10.0 if d <= 3 else 50.0)
        for d in range(1, 7)
    ]
    sf = _write_events(spark, tmp_path, rows)
    got = REGISTRY["changepoint_cusum_daily"].spark(spark, sf).collect()
    assert len(got) == 1
    r = got[0]
    assert r["cp_day"] == "2024-01-03"
    assert r["n_days"] == 6 and r["n_before"] == 3
    assert r["cusum_abs_max"] == 360_000_000  # |6*3e7 - 3*1.8e8|
    assert r["sum_before_micros"] == 30_000_000
    assert r["sum_after_micros"] == 150_000_000
    assert r["mean_before_micros"] == 10_000_000.0
    assert r["mean_after_micros"] == 50_000_000.0


def test_containment_verify_operator_and_registered_pairs(spark, sf_dir):
    import pyspark.sql.functions as F

    from notion_timetracking_etl_spark.operators.dedup import (
        containment_verify,
    )

    # operator math on an explicit candidate: A's shingles {x,y}, B's
    # {x,y,z,w} -> containment_a = 1.0, containment_b = 0.5
    sh = spark.createDataFrame(
        [(1, "x"), (1, "y"), (2, "x"), (2, "y"), (2, "z"), (2, "w")],
        "doc long, sh string",
    )
    cands = spark.createDataFrame([(1, 2)], "a long, b long")
    got = containment_verify(cands, sh, threshold_pct=80).collect()
    assert len(got) == 1 and got[0]["containment_a"] == 1.0
    assert got[0]["containment_b"] == 0.5 and got[0]["n_common"] == 2

    # registered query: every emitted pair's counts match a pure-Python
    # shingle model and clear the 80%-of-smaller-side threshold
    docs = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
        if r["text"] is not None
    }

    def shingles(text):
        ws = text.strip().lower().split()
        if len(ws) < 3:
            return {" ".join(ws)}
        return {" ".join(ws[i : i + 3]) for i in range(len(ws) - 2)}

    rows = REGISTRY["minhash_containment_pairs"].spark(spark, sf_dir).collect()
    assert rows, "expected containment pairs in the synthetic corpus"
    for r in rows:
        sa, sb = shingles(docs[r["a"]]), shingles(docs[r["b"]])
        inter = len(sa & sb)
        assert (r["n_a"], r["n_b"], r["n_common"]) == (
            len(sa), len(sb), inter,
        ), r
        assert 100 * inter >= 80 * min(len(sa), len(sb))


def test_schema_drift_report_ground_truth(spark, tmp_path):
    d = dt.datetime(2024, 1, 1)
    orders = spark.createDataFrame(
        [(k, k, "O", 10.0 * k, d, "1-URGENT") for k in (1, 2, 3, 4)],
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    orders.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "orders.parquet")
    )
    got = {
        r["gen"]: (r["n_rows"], r["n_null_discount"], r["sum_discount_micros"])
        for r in REGISTRY["lake_schema_drift_report"]
        .spark(spark, str(tmp_path))
        .collect()
    }
    # gen1 = even keys (v1 schema, NULL discounts); gen2 = odd keys with
    # discount = floor(price * 0.1 * 1e6): 10.0 -> 1_000_000, 30.0 -> 3_000_000
    assert got == {1: (2, 2, 0), 2: (2, 0, 4_000_000)}


def test_knn_graph_invariants(spark, sf_dir):
    # ADVICE r7: expectations derive from the FIXTURE, not hardcoded —
    # the cell partition is recomputed independently (pyarrow + plain
    # Python left-to-right dot folds, the same IEEE sequence as the Spark
    # expression), so the test survives fixture changes and pins the
    # singleton-drop and valve semantics exactly.
    from collections import Counter

    import pyarrow.parquet as pq

    from notion_timetracking_etl_spark.operators.similarity import srp_planes
    from notion_timetracking_etl_spark.queries.similarity import (
        _KNN_K,
        EMB_DIMS,
        KNN_MAX_BITS,
        KNN_MAX_CELL,
        KNN_TARGET_CELL,
    )

    emb = pq.read_table(
        f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"]
    ).to_pylist()
    valid = [
        r["embedding"]
        for r in emb
        if r["embedding"] is not None and len(r["embedding"]) == EMB_DIMS
    ]
    n_valid = len(valid)
    bits = sum(
        n_valid > KNN_TARGET_CELL * (1 << b) for b in range(KNN_MAX_BITS)
    )
    # r9: the model mirrors the TWO-LEVEL partition — global bits from the
    # corpus count, then per-coarse-cell refinement bits from that cell's
    # observed occupancy (the skew-adaptive scheme), clamped at MAX_BITS
    planes = srp_planes(KNN_MAX_BITS, dims=EMB_DIMS)
    sigs = [
        "".join(
            "1"
            if sum(float(x) * p for x, p in zip(vec, plane)) >= 0.0
            else "0"
            for plane in planes
        )
        for vec in valid
    ]
    coarse: Counter = Counter(s[:bits] for s in sigs)
    blen = {
        c: min(
            bits
            + sum(m > KNN_TARGET_CELL * (1 << e) for e in range(KNN_MAX_BITS)),
            KNN_MAX_BITS,
        )
        for c, m in coarse.items()
    }
    cells: Counter = Counter(s[: blen[s[:bits]]] for s in sigs)
    # singleton cells (n_nodes == 1) produce no edges and drop from the
    # report via the inner join on edge stats
    expected = {
        c: min(n, KNN_MAX_CELL) for c, n in cells.items() if n >= 2
    }
    rows = REGISTRY["knn_graph_stats"].spark(spark, sf_dir).collect()
    assert rows
    got = {r["cell"]: r for r in rows}
    assert set(got) == set(expected)
    assert all(len(c) == blen[c[:bits]] for c in got)
    for c, r in got.items():
        assert r["n_nodes"] == expected[c], r
        assert r["n_truncated"] == cells[c] - expected[c], r
        k_eff = min(_KNN_K, r["n_nodes"] - 1)
        assert r["n_edges"] == k_eff * r["n_nodes"], r
        assert 0 <= r["n_reciprocal"] <= r["n_edges"]
        assert -1.0 <= r["mean_edge_cos"] <= 1.0
    assert sum(r["n_nodes"] for r in rows) == sum(expected.values())


def test_streaming_hll_equals_batch_registers(spark, sf_dir):
    stream_row = REGISTRY["streaming_hll_distinct"].spark(spark, sf_dir).collect()[0]
    batch_all = {
        r["scope"]: r
        for r in REGISTRY["hll_distinct_user_days"].spark(spark, sf_dir).collect()
    }["all"]
    # stream-merged registers must yield the IDENTICAL estimate to the
    # batch build over the same key set — register MAX is split-insensitive
    assert stream_row["hll_est"] == batch_all["hll_est"]
    assert stream_row["n_exact"] == batch_all["n_exact"]
    assert stream_row["n_zero_registers"] == batch_all["n_zero_registers"]


def test_tpch_q17_shape_matches_python_model(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    ).collect()
    part = spark.read.parquet(f"{sf_dir}/part.parquet").select(
        "p_partkey", "p_brand", "p_size"
    ).collect()
    sel = {r["p_partkey"] for r in part if r["p_brand"] == "Brand#4" and r["p_size"] < 15}
    from collections import defaultdict
    per = defaultdict(list)
    for r in li:
        if r["l_partkey"] in sel:
            per[r["l_partkey"]].append((r["l_quantity"], r["l_extendedprice"]))
    n, total = 0, 0.0
    for rows in per.values():
        avg = sum(q for q, _ in rows) / len(rows)
        for q, p in rows:
            if q < 0.2 * avg:
                n += 1
                total += p
    got = REGISTRY["tpch_small_quantity_revenue"].spark(spark, sf_dir).collect()[0]
    assert got["n_small_lines"] == n
    if n:
        assert abs(got["avg_yearly"] - total / 7.0) < 1e-6 * max(1.0, abs(total))


def test_rolling_distinct_users_ground_truth(spark, tmp_path):
    t = dt.datetime
    # user 1 on days 1 and 9 (outside any shared 7-day window);
    # user 2 on day 3 only; day-9 window [3..9] sees users {1, 2}
    rows = [
        (t(2024, 1, 1, 1), 1, "a", 1.0),
        (t(2024, 1, 9, 1), 1, "a", 1.0),
        (t(2024, 1, 3, 1), 2, "a", 1.0),
    ]
    sf = _write_events(spark, tmp_path, rows)
    got = {
        r["day"]: r["distinct_users_7d"]
        for r in REGISTRY["rolling_distinct_users"].spark(spark, sf).collect()
    }
    # day 1..7 windows include user1(day1); day 3..9 include user2(day3);
    # day 9 window [3..9] = {user1(day9), user2}
    assert got["2024-01-01"] == 1
    assert got["2024-01-02"] == 1
    assert got["2024-01-03"] == 2
    assert got["2024-01-07"] == 2
    assert got["2024-01-08"] == 1  # window [2..8]: only user2(day3)
    assert got["2024-01-09"] == 2  # user1 returns + user2 still in window
    # clipped to the observed span: no report days beyond day 9
    assert max(got) == "2024-01-09" and min(got) == "2024-01-01"


def test_frequent_part_pairs_matches_python_model(spark, sf_dir):
    from collections import Counter

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_partkey"
    ).collect()
    baskets = {}
    for r in li:
        baskets.setdefault(r["l_orderkey"], set()).add(r["l_partkey"])
    item_cnt = Counter(i for items in baskets.values() for i in items)
    freq = {i for i, c in item_cnt.items() if c >= 3}
    co = Counter()
    for items in baskets.values():
        fs = sorted(i for i in items if i in freq)
        for x in range(len(fs)):
            for y in range(x + 1, len(fs)):
                co[(fs[x], fs[y])] += 1
    top = sorted(co.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    n = len(baskets)
    got = REGISTRY["frequent_part_pairs"].spark(spark, sf_dir).collect()
    assert [( (r["pa"], r["pb"]), r["co_count"]) for r in got] == top
    for r in got:
        assert r["cnt_a"] == item_cnt[r["pa"]] and r["cnt_b"] == item_cnt[r["pb"]]
        assert r["lift"] == (r["co_count"] * n) / (r["cnt_a"] * r["cnt_b"])


def test_frequent_part_pairs_width_valve(spark, tmp_path):
    # r8 contract: a basket wider than _FP_MAX_BASKET PRUNED items is
    # excluded from pairing (quadratic-width valve) but its items still
    # count toward supports and it still counts in the lift denominator.
    rows = []
    WIDE = 100  # 70 frequent items > _FP_MAX_BASKET=64 -> excluded
    for item in range(1, 71):
        rows.append((WIDE, item))
        for j in range(3):  # three singleton baskets make every item frequent
            rows.append((1000 + item * 10 + j, item))
    for b in (101, 102, 103):  # the only pairing signal left
        rows += [(b, 1), (b, 2)]
    df = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "lineitem.parquet")
    )
    got = REGISTRY["frequent_part_pairs"].spark(spark, str(tmp_path)).collect()
    # without the valve the wide basket would contribute 70*69/2 pairs and
    # lift co(1,2) to 4; with it, only the three narrow baskets pair
    assert len(got) == 1
    r = got[0]
    n_baskets = 1 + 3 + 70 * 3
    assert (r["pa"], r["pb"], r["co_count"]) == (1, 2, 3)
    assert r["cnt_a"] == 7 and r["cnt_b"] == 7  # wide basket still supports
    assert r["lift"] == (3 * n_baskets) / 49


def test_timezone_boundary_audit_ground_truth(spark, tmp_path):
    t = dt.datetime
    rows = [
        # 03:00 UTC = 19:00 previous day in LA (UTC-8 in January): shifts
        (t(2024, 1, 2, 3), 1, "a", 1.0),
        # 12:00 UTC = 04:00 LA same day: no shift
        (t(2024, 1, 2, 12), 2, "a", 1.0),
    ]
    sf = _write_events(spark, tmp_path, rows)
    got = {
        r["day"]: (r["n_utc"], r["n_la"], r["n_shifted_in"])
        for r in REGISTRY["timezone_day_boundary_audit"].spark(spark, sf).collect()
    }
    assert got == {
        "2024-01-01": (0, 1, 1),  # the 03:00 UTC event lands here in LA
        "2024-01-02": (2, 1, 0),
    }


def test_streaming_countmin_equals_batch_counters(spark, sf_dir):
    stream_rows = {
        r["item"]: (r["exact_cnt"], r["cms_est"])
        for r in REGISTRY["streaming_countmin_tokens"].spark(spark, sf_dir).collect()
    }
    batch_rows = {
        r["item"]: (r["exact_cnt"], r["cms_est"])
        for r in REGISTRY["countmin_token_frequency"].spark(spark, sf_dir).collect()
    }
    # stream-merged counters must equal the batch-built counters exactly
    assert stream_rows == batch_rows


def test_streaming_heavy_hitters_equals_batch_and_survives_batch_splits(
    spark, sf_dir, tmp_path
):
    import pyspark.sql.functions as F

    from notion_timetracking_etl_spark.operators.dedup import words
    from notion_timetracking_etl_spark.queries.sketches import HH_K
    from notion_timetracking_etl_spark.streaming import (
        heavy_hitter_candidates_stream,
        run_stream_to_table,
    )

    # the registered single-batch drain equals the batch operator
    stream_out = {
        (r["item"], r["cnt"])
        for r in REGISTRY["streaming_heavy_hitters"].spark(spark, sf_dir).collect()
    }
    batch_out = {
        (r["item"], r["cnt"])
        for r in REGISTRY["heavy_hitter_tokens"].spark(spark, sf_dir).collect()
    }
    assert stream_out == batch_out

    # MULTI-batch: split the corpus into 3 files -> 3 micro-batches; the
    # cross-batch MG state fold must still yield a candidate superset
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    split_dir = str(tmp_path / "docs_split")
    for i in range(3):
        docs.filter(F.col("doc_id") % 3 == i).coalesce(1).write.mode(
            "append"
        ).parquet(split_dir)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(split_dir)
    )
    toks = stream.select(F.explode(words(F.col("text"))).alias("item"))
    emissions = run_stream_to_table(
        heavy_hitter_candidates_stream(toks, HH_K), output_mode="update"
    )
    cands = {r["item"] for r in emissions.select("item").distinct().collect()}
    assert {i for i, _ in batch_out} <= cands


def test_kmv_union_bounds_and_exact_small_scopes(spark, sf_dir):
    rows = {
        r["scope"]: r
        for r in REGISTRY["kmv_distinct_union"].spark(spark, sf_dir).collect()
    }
    assert "all" in rows
    for scope, r in rows.items():
        if r["n_in_sketch"] < 64:
            # under-filled sketch IS the exact set: estimate must be exact
            assert r["kmv_est"] == float(r["n_exact"]), r
            assert r["rel_err"] == 0.0
        else:
            # k=64 standard error ~ 1/sqrt(k-2) ~ 12.7%; 4 sigma + slack
            assert abs(r["rel_err"]) < 0.55, r
    # the union scope can never be smaller than any single scope (exact)
    n_all = rows["all"]["n_exact"]
    assert all(
        r["n_exact"] <= n_all for s, r in rows.items() if s != "all"
    )
