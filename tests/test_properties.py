"""Property-based tests (hypothesis): the lenient timestamp parser against
a Python reference implementation of the reference's semantics, and the
merge/dedup algebraic invariants (SURVEY.md §5.3).

Each example batches many generated rows into ONE Spark job so the suite
stays fast (a per-example job would be ~0.3 s each).
"""

from __future__ import annotations

from datetime import datetime, timedelta

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from fn_rq_report_etl_dev_spark.functions.casts import lenient_cast
from fn_rq_report_etl_dev_spark.functions.timestamps import parse_timestamp_multi
from fn_rq_report_etl_dev_spark.operators.dedup import latest_per_key
from fn_rq_report_etl_dev_spark.operators.merge import merge_upsert

BASE = datetime(2024, 1, 1)

_dts = st.builds(
    lambda s, us: BASE + timedelta(seconds=s, microseconds=us),
    st.integers(0, 365 * 24 * 3600),
    st.integers(0, 999_999),
)


def _render(dt: datetime, variant: int, frac_digits: int) -> tuple[str, datetime]:
    """Render ``dt`` in one of the reference's accepted shapes and return
    (raw string, expected parse) — expected per rqtradein_etl.py:260-284."""
    frac = f"{dt.microsecond:06d}"[:frac_digits]
    whole = dt.replace(microsecond=0)
    if variant == 0:  # ISO T + fraction + Z
        expected_us = int(frac.ljust(6, "0")) if frac_digits else 0
        raw = f"{whole:%Y-%m-%dT%H:%M:%S}" + (f".{frac}" if frac_digits else "") + "Z"
        return raw, whole.replace(microsecond=expected_us)
    if variant == 1:  # ISO T, no fraction
        return f"{whole:%Y-%m-%dT%H:%M:%S}", whole
    if variant == 2:  # space separator
        return f"{whole:%Y-%m-%d %H:%M:%S}", whole
    if variant == 3:  # space + fraction
        expected_us = int(frac.ljust(6, "0")) if frac_digits else 0
        raw = f"{whole:%Y-%m-%d %H:%M:%S}" + (f".{frac}" if frac_digits else "")
        return raw, whole.replace(microsecond=expected_us)
    return f"not-a-date-{dt.toordinal()}", None  # unparseable → NULL


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.tuples(_dts, st.integers(0, 4), st.integers(0, 9)),
        min_size=1,
        max_size=40,
    )
)
def test_parser_matches_reference_semantics(spark, cases):
    rows = [_render(dt, variant, frac) for dt, variant, frac in cases]
    df = spark.createDataFrame([(raw,) for raw, _ in rows], "raw string")
    got = [
        r["p"] for r in df.select(parse_timestamp_multi(F.col("raw")).alias("p")).collect()
    ]
    expected = [exp for _, exp in rows]
    assert got == expected


def _adversarial(dt: datetime, shape: int, digits: int, junk: str) -> str:
    """``dt`` in a shape near, but not always in, the staged patterns."""
    frac = f".{dt.microsecond:06d}{dt.microsecond % 1000:03d}"[: digits + 1] if digits else ""
    day, clock = f"{dt:%Y-%m-%d}", f"{dt:%H:%M:%S}"
    return [
        f"{day} {clock}{frac}",  # both staged shapes, and ragged fractions
        f"{day}T{clock}{frac}",
        f"{day} {clock}{frac}Z",
        f"{day}T{clock}{frac}+05:30",
        f"{day} {clock}{frac}-0800",
        day,
        f"{day} {clock[:5]}",
        f" {day} {clock}{frac}",
        f"{day} {clock}{frac}{junk}",
        junk,
    ][shape]


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.tuples(_dts, st.integers(0, 9), st.integers(0, 9), st.text(max_size=6)),
        min_size=1,
        max_size=60,
    )
)
def test_known_pattern_cast_equals_multi_format_parse(spark, cases):
    """The merge casts staged timestamps with one exact parse in the
    pattern normalize_batch writes, before the multi-format chain: for
    every string, canonical or not, the result is the chain's alone."""
    from fn_rq_report_etl_dev_spark.pipeline import STAGED_EST_FORMAT, STAGED_TS_FORMAT

    raws = [
        raw
        for dt, *rest in cases
        for raw in (f"{dt:%Y-%m-%d %H:%M:%S.%f}", f"{dt:%Y-%m-%d %H:%M:%S}", _adversarial(dt, *rest))
    ]
    df = spark.createDataFrame([(r,) for r in raws], "raw string")
    raw = F.col("raw")
    chain = parse_timestamp_multi(raw)
    bad = df.select(
        F.count(F.when(~lenient_cast(raw, "timestamp", STAGED_TS_FORMAT).eqNullSafe(chain), 1)),
        F.count(F.when(~lenient_cast(raw, "timestamp", STAGED_EST_FORMAT).eqNullSafe(chain), 1)),
    ).first()
    assert tuple(bad) == (0, 0)


@settings(max_examples=10, deadline=None)
@given(
    st.lists(st.integers(0, 30), min_size=0, max_size=25, unique=True),
    st.lists(st.integers(0, 30), min_size=0, max_size=25, unique=True),
)
def test_merge_invariants(spark, target_keys, source_keys):
    target = spark.createDataFrame(
        [(k, f"t{k}") for k in target_keys], "k long, v string"
    )
    source = spark.createDataFrame(
        [(k, f"s{k}") for k in source_keys], "k long, v string"
    )
    merged = {r["k"]: r["v"] for r in merge_upsert(target, source, "k").collect()}
    # keys = union; source wins on overlap; target rows otherwise untouched
    assert set(merged) == set(target_keys) | set(source_keys)
    for k in merged:
        assert merged[k] == (f"s{k}" if k in source_keys else f"t{k}")


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 1000), st.integers(0, 10**6)),
        min_size=1,
        max_size=60,
    )
)
def test_dedup_keeps_exactly_the_max_per_key(spark, rows):
    # rows: (key, order_value, unique_tiebreak) — tiebreak made unique
    uniq = [(k, o, i) for i, (k, o, _) in enumerate(rows)]
    df = spark.createDataFrame(uniq, "k long, o long, tid long")
    got = {(r["k"], r["o"], r["tid"]) for r in latest_per_key(df, ["k"], ["o", "tid"]).collect()}
    expected = {}
    for k, o, tid in uniq:
        if k not in expected or (o, tid) > (expected[k][1], expected[k][2]):
            expected[k] = (k, o, tid)
    assert got == set(expected.values())


@settings(max_examples=8, deadline=None)
@given(
    buckets=st.lists(
        st.tuples(st.sampled_from("abc"), st.integers(0, 60)),
        min_size=1, max_size=6, unique_by=lambda t: t[0],
    ),
    cap=st.integers(2, 17),
)
def test_bucket_pairs_capped_equals_naive_property(spark, buckets, cap):
    """For ANY bucket sizes and ANY cap, chunked pair generation equals the
    naive per-bucket triangle with id_a < id_b."""
    from itertools import combinations

    from fn_rq_report_etl_dev_spark.operators.text_dedup import _bucket_pairs

    rows = [(b, f"{b}{i:03d}") for b, n in buckets for i in range(n)]
    if not rows:
        return
    df = spark.createDataFrame(rows, "bkt string, __id string")
    got = {(r["id_a"], r["id_b"])
           for r in _bucket_pairs(df, ["bkt"], max_bucket=cap).collect()}
    expect = {
        p
        for b, n in buckets
        for p in combinations([f"{b}{i:03d}" for i in range(n)], 2)
    }
    assert got == expect


@settings(max_examples=8, deadline=None)
@given(
    hist_keys=st.sets(st.integers(0, 15)),
    src_keys=st.sets(st.integers(0, 15)),
    changed_keys=st.sets(st.integers(0, 15)),
)
def test_scd2_invariants(spark, hist_keys, src_keys, changed_keys):
    """SCD2 invariants for any history/snapshot overlap: (a) exactly one
    current row per surviving key, (b) every closed row carries valid_to,
    (c) row count = |history| + |inserts| + |changes| (each change adds
    one closed version)."""
    from fn_rq_report_etl_dev_spark.operators.scd import merge_scd2

    now = F.to_timestamp(F.lit("2024-06-01 00:00:00"))
    t0 = F.to_timestamp(F.lit("2024-01-01 00:00:00"))
    hist_rows = [(k, "old" if k in changed_keys else "same") for k in hist_keys]
    src_rows = [(k, "new" if k in changed_keys else "same") for k in src_keys]
    if not hist_rows or not src_rows:
        return
    history = (
        spark.createDataFrame(hist_rows, "k int, status string")
        .withColumn("valid_from", t0)
        .withColumn("valid_to", F.lit(None).cast("timestamp"))
        .withColumn("is_current", F.lit(True))
    )
    source = spark.createDataFrame(src_rows, "k int, status string")
    out = merge_scd2(history, source, "k", ["status"], now=now).collect()

    all_keys = hist_keys | src_keys
    current = [r for r in out if r["is_current"]]
    assert sorted(r["k"] for r in current) == sorted(all_keys)  # (a)
    assert all(r["valid_to"] is not None for r in out if not r["is_current"])  # (b)
    n_changes = len(hist_keys & src_keys & changed_keys)
    n_inserts = len(src_keys - hist_keys)
    assert len(out) == len(hist_keys) + n_inserts + n_changes  # (c)


@settings(max_examples=6, deadline=None)
@given(tokens=st.lists(st.integers(0, 120), min_size=1, max_size=40),
       budget=st.integers(10, 200))
def test_pack_contiguity_and_budget(spark, tokens, budget):
    """Contiguous packing: pack ids are non-decreasing in doc order, every
    pack except possibly the last closes at/after the budget, and a pack
    never starts after the budget boundary mid-doc (cumsum-before rule)."""
    from pyspark.sql import Window

    rows = [(i, n) for i, n in enumerate(tokens)]
    df = spark.createDataFrame(rows, "doc_id int, n_tokens int")
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)
    before = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    out = sorted(
        df.withColumn("pack_id", F.floor(before / F.lit(float(budget)))).collect(),
        key=lambda r: r["doc_id"],
    )
    packs = [r["pack_id"] for r in out]
    assert packs == sorted(packs)  # contiguity
    csum = 0
    for r in out:
        assert r["pack_id"] == csum // budget  # cumsum-before rule
        csum += r["n_tokens"]


@settings(max_examples=15, deadline=None)
@given(
    texts=st.lists(
        st.text(
            alphabet=st.sampled_from("abc xyz the and !.?"),
            min_size=0, max_size=60,
        ),
        min_size=1, max_size=8,
    )
)
def test_curation_score_bounds(spark, texts):
    """Repetition and contamination scores stay in [0,1]; n_distinct ≤
    n_grams; a doc can never overlap more shingles than it has."""
    from fn_rq_report_etl_dev_spark.operators.curation import (
        contamination_scores,
        repetition_scores,
    )

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id bigint, text string"
    )
    for r in repetition_scores(df, "doc_id", "text").collect():
        assert 1 <= r["n_distinct"] <= r["n_grams"]
        assert 0.0 <= r["rep_ratio"] < 1.0
        assert 0.0 < r["top_ratio"] <= 1.0
    out = contamination_scores(df, df, "doc_id", "text").collect()
    for r in out:
        # self-benchmark: every doc with shingles overlaps itself fully
        assert r["n_overlap"] == r["n_shingles"]
        assert r["contamination"] == 1.0 and r["flagged"] is True


@settings(max_examples=15, deadline=None)
@given(
    texts=st.lists(
        st.text(
            alphabet=st.sampled_from("abcdefgh THE over ., \n\t"),
            min_size=1, max_size=80,
        ),
        min_size=1, max_size=6,
    )
)
def test_quality_gate_reasons_iff_not_keep(spark, texts):
    """keep is True exactly when reasons is empty, and every reason is one
    of the four rule names in declaration order."""
    from fn_rq_report_etl_dev_spark.operators.curation import quality_gate

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id bigint, text string"
    )
    order = ["n_words", "word_len", "alpha", "stopwords"]
    for r in quality_gate(df, "doc_id", "text").collect():
        names = r["reasons"].split(",") if r["reasons"] else []
        assert r["keep"] is (names == [])
        assert all(n in order for n in names)
        assert names == sorted(names, key=order.index)


@settings(max_examples=6, deadline=None)
@given(
    docs=st.lists(
        st.tuples(
            st.integers(0, 40),
            st.sampled_from([
                "alpha beta gamma delta epsilon zeta",
                "alpha beta gamma delta epsilon eta",
                "one two three four five six seven",
                "totally different words in this doc here",
            ]),
        ),
        min_size=2, max_size=12, unique_by=lambda t: t[0],
    ),
    mod=st.integers(2, 5),
)
def test_incremental_lsh_equals_full_lsh_cross_restriction(spark, docs, mod):
    """For ANY corpus and ANY new/old split, the asymmetric incremental
    candidates are EXACTLY the full-corpus LSH candidate pairs restricted
    to cross-side pairs — the efficiency rewrite loses nothing."""
    from pyspark.sql import functions as F

    from fn_rq_report_etl_dev_spark.operators.text_dedup import (
        incremental_lsh_candidates,
        lsh_candidate_pairs,
    )

    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    is_new = {i: i % mod == 0 for i, _ in docs}

    inc = {
        (r["id_new"], r["id_old"])
        for r in incremental_lsh_candidates(
            df, "doc_id", "text", is_new=F.col("doc_id") % mod == 0
        ).collect()
    }
    full = {
        (r["id_a"], r["id_b"])
        for r in lsh_candidate_pairs(df, "doc_id", "text").collect()
    }
    expect = {
        (a, b) if is_new[a] else (b, a)
        for a, b in full
        if is_new[a] != is_new[b]
    }
    assert inc == expect


@settings(max_examples=5, deadline=None)
@given(
    vecs=st.lists(
        st.lists(
            st.floats(-1, 1, allow_nan=False, allow_infinity=False, width=32),
            min_size=4, max_size=4,
        ),
        min_size=3, max_size=10,
    ),
)
def test_quantized_rerank_full_shortlist_equals_bruteforce(spark, vecs):
    """With the shortlist as wide as the corpus, the int8 candidate stage
    cannot drop anything, so the exact rerank must reproduce brute force
    EXACTLY for arbitrary vectors — the invariant that makes the
    quantized path trustworthy independent of quantization error."""
    from fn_rq_report_etl_dev_spark.operators.similarity import (
        brute_force_topk,
        quantized_rerank_topk,
    )

    rows = [
        (i, [float(v[0]) + 1.5] + [float(x) for x in v[1:]])  # non-zero norm
        for i, v in enumerate(vecs)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    m = len(rows)
    got = sorted(
        (r["query_id"], r["rank"], r["neighbor_id"], round(r["cos"], 9))
        for r in quantized_rerank_topk(df, df, k=2, m=m, exclude_self=True).collect()
    )
    exp = sorted(
        (r["query_id"], r["rank"], r["neighbor_id"], round(r["cos"], 9))
        for r in brute_force_topk(df, df, k=2, exclude_self=True).collect()
    )
    assert got == exp


@settings(max_examples=5, deadline=None)
@given(
    words=st.lists(
        st.sampled_from(["a", "b", "c", "d", "e", "f", "g", "h"]),
        min_size=1, max_size=120,
    ),
)
def test_cms_never_underestimates_property(spark, words):
    """Count-min invariant under forced collisions (width 8, depth 2):
    every estimate ≥ the true count, for arbitrary multisets."""
    from collections import Counter

    from fn_rq_report_etl_dev_spark.operators.sketches import (
        cm_estimate,
        countmin_table,
    )

    items = spark.createDataFrame([(w,) for w in words], "word string")
    cms = countmin_table(items, "word", width=8, depth=2)
    est = {
        r["word"]: r["cms_est"]
        for r in cm_estimate(
            cms, items.distinct(), "word", width=8, depth=2
        ).collect()
    }
    true = Counter(words)
    assert all(est[w] >= n for w, n in true.items())


@settings(max_examples=5, deadline=None)
@given(
    vecs=st.lists(
        st.lists(
            st.floats(-1, 1, allow_nan=False, allow_infinity=False, width=32),
            min_size=4, max_size=4,
        ),
        min_size=3, max_size=10,
    ),
    n_cells=st.integers(1, 4),
)
def test_codebook_ivf_full_probe_equals_bruteforce(spark, vecs, n_cells):
    """With n_probe == n_cells the codebook IVF scans every cell, so its
    output must equal exact brute force EXACTLY for arbitrary vectors and
    any codebook size — the same total-recall invariant the Lloyd path
    proves via ann_ivf_recall's n_probe=8 row, here for the
    SQL-replayable quantizer (r05). Also pins the partition-of-the-corpus
    property: every (non-null) vector lands in exactly one cell."""
    from fn_rq_report_etl_dev_spark.operators.similarity import (
        brute_force_topk,
        build_codebook_index,
        ivf_query,
    )

    rows = [
        (i, [float(v[0]) + 1.5] + [float(x) for x in v[1:]])  # non-zero norm
        for i, v in enumerate(vecs)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    idx = build_codebook_index(df, n_cells=n_cells, seed=42)
    assert idx.assigned.count() == len(rows)  # partition: one cell per vector
    got = sorted(
        (r["query_id"], r["rank"], r["neighbor_id"], round(r["cos"], 9))
        for r in ivf_query(
            idx, df, k=2, n_probe=n_cells, exclude_self=True
        ).collect()
    )
    exp = sorted(
        (r["query_id"], r["rank"], r["neighbor_id"], round(r["cos"], 9))
        for r in brute_force_topk(df, df, k=2, exclude_self=True).collect()
    )
    assert got == exp


@settings(max_examples=5, deadline=None)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 3),      # user_id
            st.integers(0, 48),     # ts offset hours
            st.integers(0, 400),    # value seed
        ),
        min_size=1, max_size=25, unique=True,
    ),
)
def test_point_in_time_union_window_equals_naive_between_join(spark, rows):
    """The one-exchange union-window as-of must return exactly what the
    naive as-of lookup (join on key with valid_from <= fact_ts, keep the
    max-(valid_from, ver_id) version) returns, for arbitrary event
    streams — including same-timestamp version ties, facts probing before
    any version, and single-event users."""
    from fn_rq_report_etl_dev_spark.workloads.relational import (
        scd2_point_in_time_join,
    )

    data = [
        (int(u), i, f"2024-01-{1 + h // 24:02d} {h % 24:02d}:00:00", float(v))
        for i, (u, h, v) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        data, "user_id long, event_id long, ts_s string, value double"
    ).select(
        "user_id", "event_id",
        F.to_timestamp("ts_s").alias("ts"),
        F.lit("e").alias("event_type"),
        "value",
    )
    import tempfile

    d = tempfile.mkdtemp(prefix="pit-")
    df.write.mode("overwrite").parquet(f"{d}/events.parquet")

    got = sorted(
        map(tuple, scd2_point_in_time_join(spark, d).collect())
    )

    v = df.select(
        "user_id", F.col("event_id").alias("ver_id"), "event_type",
        F.col("value").alias("ver_value"), F.col("ts").alias("valid_from"),
    )
    f = df.filter(F.col("event_id") % 5 == 0).select(
        F.col("user_id").alias("fu"), F.col("event_id").alias("fact_id"),
        (F.col("ts") + F.expr("INTERVAL 36 HOURS")).alias("fact_ts"),
    )
    from pyspark.sql import Window as W

    naive = (
        f.join(v, (v.user_id == f.fu) & (v.valid_from <= f.fact_ts))
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("fact_id").orderBy(
                    F.col("valid_from").desc(), F.col("ver_id").desc()
                )
            ),
        )
        .filter("rn = 1")
        .select("fu", "fact_id", "fact_ts", "ver_id", "event_type", "ver_value")
    )
    exp = sorted(map(tuple, naive.collect()))
    assert got == exp


@settings(max_examples=5, deadline=None)
@given(
    texts=st.lists(
        st.lists(
            st.sampled_from(["ab", "Cd", "xyz", "Q", "lorem", ""]),
            min_size=0, max_size=9,
        ).map(" ".join),
        min_size=1, max_size=60,
    ),
    n_sources=st.integers(1, 3),
)
def test_weighted_reservoir_matches_python_replay(spark, texts, n_sources):
    """sample_weighted_reservoir is a pure function of (doc_id, weight):
    an independent pure-Python replay (hashlib md5, float division — the
    same IEEE-754 double op Spark and DuckDB execute) must draw the
    identical sample for arbitrary corpora, including sources smaller
    than K and multi-space/empty texts."""
    import hashlib
    import re
    import shutil
    import tempfile

    from fn_rq_report_etl_dev_spark.workloads import QUERIES
    from fn_rq_report_etl_dev_spark.workloads.llmops import WEIGHTED_SAMPLE_K

    rows = [
        (i, f"src{i % n_sources}", t, "en")
        for i, t in enumerate(texts)
    ]
    tmp = tempfile.mkdtemp(prefix="ppsprop")
    try:
        spark.createDataFrame(
            rows, "doc_id bigint, source string, text string, lang string"
        ).write.mode("overwrite").parquet(f"{tmp}/documents.parquet")
        got = sorted(
            map(
                tuple,
                QUERIES["sample_weighted_reservoir"](spark, tmp).collect(),
            )
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    per_source: dict[str, list[tuple[float, int, int]]] = {}
    for doc_id, source, text, _lang in rows:
        weight = len(re.split(r"\s+", text.strip().lower()))
        h = int(
            hashlib.md5(f"spss:{doc_id}".encode()).hexdigest()[:12], 16
        )
        if weight > 0:
            per_source.setdefault(source, []).append(
                (h / weight, doc_id, weight)
            )
    exp = []
    for source, entries in per_source.items():
        entries.sort()
        for rank, (_key, doc_id, weight) in enumerate(
            entries[:WEIGHTED_SAMPLE_K], start=1
        ):
            exp.append((doc_id, source, weight, rank))
    assert got == sorted(exp)


@settings(max_examples=8, deadline=None)
@given(
    pairs=st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)),
        min_size=0,
        max_size=40,
    ),
    iters=st.integers(1, 4),
)
def test_pagerank_integer_matches_python_replay(spark, pairs, iters):
    """pagerank_integer is a pure integer recurrence — an independent
    pure-Python replay over arbitrary digraphs (self-loops removed,
    duplicate edges deduped, isolated nodes kept) must produce the
    IDENTICAL bigint ranks: the whole point of the scaled-integer
    formulation is that no float-order seam exists to hide in."""
    from fn_rq_report_etl_dev_spark.operators.graph import pagerank_integer

    edge_set = sorted({(a, b) for a, b in pairs if a != b})
    node_set = sorted(
        {a for a, _ in pairs} | {b for _, b in pairs} | {0}
    )
    nodes = spark.createDataFrame([(n,) for n in node_set], "node bigint")
    edges = spark.createDataFrame(
        edge_set or [(0, 0)], "src bigint, dst bigint"
    )
    if not edge_set:
        edges = edges.filter(F.lit(False))
    got = {
        r["node"]: r["r"]
        for r in pagerank_integer(nodes, edges, iterations=iters).collect()
    }

    scale = 10**12
    n = len(node_set)
    base = scale // n
    outdeg: dict[int, int] = {}
    for a, _ in edge_set:
        outdeg[a] = outdeg.get(a, 0) + 1
    ranks = {v: base for v in node_set}
    for _ in range(iters):
        insum = {v: 0 for v in node_set}
        for a, b in edge_set:
            insum[b] += ranks[a] // outdeg[a]
        ranks = {v: (15 * base + 85 * insum[v]) // 100 for v in node_set}
    assert got == ranks


@settings(max_examples=10, deadline=None)
@given(
    pts=st.lists(
        st.tuples(st.integers(-50, 50), st.integers(-50, 50)),
        min_size=1,
        max_size=60,
    )
)
def test_pareto_frontier_matches_naive_dominance(spark, pts):
    """pareto_frontier_2d must equal the quadratic dominance definition
    on arbitrary point sets — duplicates collapse, negative coordinates
    and total ties included (the bucketed local prune must never drop a
    global survivor)."""
    from fn_rq_report_etl_dev_spark.operators.ranking import pareto_frontier_2d

    df = spark.createDataFrame(pts, "x bigint, y bigint")
    got = sorted(map(tuple, pareto_frontier_2d(df, "x", "y").collect()))

    uniq = sorted(set(pts))
    exp = sorted(
        (x, y)
        for x, y in uniq
        if not any(
            (a >= x and b >= y and (a > x or b > y)) for a, b in uniq
        )
    )
    assert got == exp


@settings(max_examples=8, deadline=None)
@given(
    pairs=st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)),
        min_size=0,
        max_size=40,
    ),
    seeds=st.lists(st.integers(0, 12), min_size=1, max_size=4),
    max_hops=st.integers(0, 4),
)
def test_bfs_min_hops_matches_python_bfs(spark, pairs, seeds, max_hops):
    """bfs_min_hops must equal a textbook Python BFS over arbitrary
    digraphs: same reachable set within the bound, same minimum hop per
    node — including seeds not present in the edge set (hop 0) and the
    early-exit on an exhausted frontier."""
    from fn_rq_report_etl_dev_spark.operators.graph import bfs_min_hops

    edge_set = sorted({(a, b) for a, b in pairs if a != b})
    seed_set = sorted(set(seeds))
    edges = spark.createDataFrame(
        edge_set or [(0, 0)], "src bigint, dst bigint"
    )
    if not edge_set:
        edges = edges.filter(F.lit(False))
    seeds_df = spark.createDataFrame([(s,) for s in seed_set], "node bigint")
    got = {
        r["node"]: r["hops"]
        for r in bfs_min_hops(edges, seeds_df, max_hops=max_hops).collect()
    }

    adj: dict[int, list[int]] = {}
    for a, b in edge_set:
        adj.setdefault(a, []).append(b)
    exp = {s: 0 for s in seed_set}
    frontier = list(seed_set)
    for hop in range(1, max_hops + 1):
        nxt = sorted(
            {d for s in frontier for d in adj.get(s, []) if d not in exp}
        )
        if not nxt:
            break
        for d in nxt:
            exp[d] = hop
        frontier = nxt
    assert got == exp


@settings(max_examples=10, deadline=None)
@given(
    rows=st.lists(
        st.tuples(st.integers(-20, 20), st.integers(-1000, 1000)),
        min_size=1,
        max_size=80,
    )
)
def test_bucketed_running_sum_matches_global_window(spark, rows):
    """bucketed_running_sum must equal the one-task global window
    ``sum(v) OVER (ORDER BY k, idx ROWS UNBOUNDED PRECEDING)`` on
    arbitrary integer data — duplicate keys, negative values, empty
    buckets between occupied ones, and a bucket expression that is a
    nondecreasing function of the leading order key."""
    from fn_rq_report_etl_dev_spark.operators.scan import bucketed_running_sum

    data = [(k, i, v) for i, (k, v) in enumerate(rows)]
    df = spark.createDataFrame(data, "k bigint, idx bigint, v bigint")
    got = {
        (r["k"], r["idx"]): r["cum"]
        for r in bucketed_running_sum(
            df,
            bucket=(F.col("k") - F.pmod(F.col("k"), F.lit(5))) / 5,
            order_by=[F.col("k"), F.col("idx")],
            value=F.col("v"),
            out_col="cum",
        ).collect()
    }

    acc, exp = 0, {}
    for k, i, v in sorted(data):
        acc += v
        exp[(k, i)] = acc
    assert got == exp


_doc_words = st.lists(
    st.sampled_from(["alpha", "beta", "gamma", "delta", "eps", "zeta"]),
    min_size=0,
    max_size=8,
)


@settings(max_examples=10, deadline=None)
@given(
    docs=st.lists(_doc_words, min_size=1, max_size=12),
    theta=st.sampled_from([0.5, 0.55, 0.34, 0.75, 1.0]),
)
def test_prefix_filter_jaccard_matches_bruteforce(spark, docs, theta):
    """prefix_filter_jaccard_pairs must equal the brute-force all-pairs
    word-3-gram Jaccard ≥ θ on arbitrary corpora — identical docs
    (J=1.0 exactly at every prefix length), sub-3-word docs (no
    shingles, never paired), hot shingles shared by every doc (the
    chunked pair generation must not drop or duplicate pairs), and
    NON-DYADIC thresholds (0.55·20 = 11.000000000000002 under floats —
    the prefix length, AllPairs length bound, positional filter, and
    verify must all stay lossless via exact rational arithmetic). The
    expected side compares in exact Fractions for the same reason."""
    from fractions import Fraction

    from fn_rq_report_etl_dev_spark.operators.text_dedup import (
        prefix_filter_jaccard_pairs,
    )

    data = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
    df = spark.createDataFrame(data, "doc_id bigint, text string")
    got = sorted(
        (r["id_a"], r["id_b"])
        for r in prefix_filter_jaccard_pairs(df, "doc_id", "text", theta).collect()
    )

    def sh(ws):
        return {" ".join(ws[i : i + 3]) for i in range(len(ws) - 2)}

    t = Fraction(str(theta))
    sets = {i: sh(ws) for i, ws in enumerate(docs)}
    exp = sorted(
        (a, b)
        for a in sets
        for b in sets
        if a < b
        and sets[a] & sets[b]
        and Fraction(len(sets[a] & sets[b]), len(sets[a] | sets[b])) >= t
    )
    assert got == exp


_two_sample = st.lists(
    st.tuples(st.integers(-20, 20), st.booleans()), min_size=2, max_size=60
).filter(
    lambda xs: any(c for _, c in xs) and any(not c for _, c in xs)
)


@settings(max_examples=10, deadline=None)
@given(xs=_two_sample)
def test_ks_and_mannwhitney_match_bruteforce(spark, xs):
    """ks_statistic / mannwhitney_2u must equal literal Python
    definitions on arbitrary two-sample data — heavy ties (tiny integer
    value domain), unbalanced samples, negative values, and buckets that
    split tie groups (bucket width 7 on values −20..20)."""
    from fractions import Fraction

    from fn_rq_report_etl_dev_spark.operators.stats import (
        ks_statistic,
        mannwhitney_2u,
    )

    df = spark.createDataFrame(
        [(float(v), 1 if c else 0) for v, c in xs], "v double, cur int"
    )
    bucket = F.floor(F.col("v") / F.lit(7.0)).cast("bigint")

    ref = sorted(v for v, c in xs if not c)
    cur = sorted(v for v, c in xs if c)
    nr, nc = len(ref), len(cur)

    got = ks_statistic(df, "v", "cur", bucket).collect()[0]
    import bisect

    d_num = max(
        abs(bisect.bisect_right(ref, x) * nc - bisect.bisect_right(cur, x) * nr)
        for x in set(v for v, _ in xs)
    )
    assert (got["n_ref"], got["n_cur"], got["d_num"]) == (nr, nc, d_num)
    assert Fraction(str(got["ks_d"])) == Fraction(
        got["d_num"], nr * nc
    ) or abs(got["ks_d"] - d_num / (nr * nc)) < 1e-12

    got2 = mannwhitney_2u(df, "v", "cur", bucket).collect()[0]
    # literal average ranks over the pooled sorted sample, doubled
    pooled = sorted(v for v, _ in xs)
    two_rank = {}
    for x in set(pooled):
        lo = bisect.bisect_left(pooled, x)
        hi = bisect.bisect_right(pooled, x)
        two_rank[x] = (lo + 1) + hi  # 2*avg of ranks lo+1..hi
    two_ranksum = sum(two_rank[x] for x in cur)
    assert (got2["n_ref"], got2["n_cur"]) == (nr, nc)
    assert got2["two_ranksum_cur"] == two_ranksum
    assert got2["two_u_cur"] == two_ranksum - nc * (nc + 1)


@settings(max_examples=6, deadline=None)
@given(
    counts=st.lists(
        st.tuples(
            st.integers(0, 2000), st.integers(0, 2000),
            st.integers(0, 2000), st.integers(0, 2000),
        ),
        min_size=1,
        max_size=25,
    )
)
def test_chi2_2x2_exact_decision_matches_fractions(spark, counts):
    """chi2_2x2_significant_95 must equal a Fraction-exact Python replica
    of χ² ≥ 3.84146 for arbitrary 2×2 margins, including degenerate ones
    (empty variants, zero/total conversion) and counts straddling the
    critical value. x is clamped ≤ n on each side to keep the table
    well-formed."""
    from fractions import Fraction

    from fn_rq_report_etl_dev_spark.operators.stats import (
        chi2_2x2_significant_95,
    )

    rows = [
        (na, min(xa, na), nb, min(xb, nb)) for na, xa, nb, xb in counts
    ]
    df = spark.createDataFrame(
        rows, "n_a bigint, x_a bigint, n_b bigint, x_b bigint"
    )
    got = [
        r["sig"]
        for r in df.select(
            chi2_2x2_significant_95(
                F.col("n_a"), F.col("x_a"), F.col("n_b"), F.col("x_b")
            ).alias("sig")
        ).collect()
    ]

    def exact(na, xa, nb, xb):
        n, x = na + nb, xa + xb
        if na == 0 or nb == 0 or x == 0 or n - x == 0:
            return 0
        chi2 = Fraction(n * (xa * nb - xb * na) ** 2, na * nb * x * (n - x))
        return 1 if chi2 >= Fraction(384146, 100000) else 0

    assert got == [exact(*r) for r in rows]
    # the generator must exercise BOTH branches across the suite often
    # enough that hypothesis shrinks meaningfully — no assertion here,
    # significance of random margins is legitimately rare.


@settings(max_examples=8, deadline=None)
@given(docs=st.lists(_doc_words, min_size=1, max_size=10), k=st.integers(1, 4))
def test_greedy_token_cover_matches_python_greedy(spark, docs, k):
    """greedy_token_cover must equal a literal Python greedy
    max-coverage replay on arbitrary corpora — duplicate docs (zero
    marginal gain after the first), sub-n-gram docs (never picked),
    early exit when coverage is exhausted, and the (gain DESC, id ASC)
    tiebreak."""
    from fn_rq_report_etl_dev_spark.operators.curation import greedy_token_cover

    data = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
    df = spark.createDataFrame(data, "doc_id bigint, text string")
    got = sorted(
        (r["rank"], r["doc_id"], r["new_tokens"])
        for r in greedy_token_cover(df, "doc_id", "text", k=k, ngram=2).collect()
    )

    sets = {
        i: {" ".join(ws[j : j + 2]) for j in range(len(ws) - 1)}
        for i, ws in enumerate(docs)
    }
    covered: set[str] = set()
    exp = []
    for rank in range(1, k + 1):
        gains = sorted(
            ((len(s - covered), -i) for i, s in sets.items()), reverse=True
        )
        best_gain, neg_id = gains[0]
        if best_gain == 0:
            break
        exp.append((rank, -neg_id, best_gain))
        covered |= sets[-neg_id]
    assert got == sorted(exp)


@settings(max_examples=8, deadline=None)
@given(
    pairs=st.lists(
        st.tuples(st.integers(0, 10), st.integers(0, 10), st.integers(0, 9)),
        min_size=0,
        max_size=30,
    ),
    seeds=st.lists(st.integers(0, 10), min_size=1, max_size=3),
    rounds=st.integers(0, 4),
)
def test_sssp_relax_matches_python_bellman_ford(spark, pairs, seeds, rounds):
    """sssp_relax must equal a literal Python Bellman-Ford bounded at the
    same round count on arbitrary weighted digraphs — zero weights,
    parallel edges (min survives), unreachable nodes absent, and labels
    that improve AFTER first discovery (the case the BFS frontier shape
    gets wrong)."""
    from fn_rq_report_etl_dev_spark.operators.graph import sssp_relax

    edge_list = [(a, b, w) for a, b, w in pairs if a != b]
    seed_set = sorted(set(seeds))
    if edge_list:
        edges = spark.createDataFrame(edge_list, "src bigint, dst bigint, w bigint")
    else:
        edges = spark.createDataFrame([], "src bigint, dst bigint, w bigint")
    seeds_df = spark.createDataFrame([(s,) for s in seed_set], "node bigint")
    got = sorted(
        (r["node"], r["dist"]) for r in sssp_relax(edges, seeds_df, rounds).collect()
    )

    dist = {s: 0 for s in seed_set}
    for _ in range(rounds):
        nxt = dict(dist)
        for a, b, w in edge_list:
            if a in dist and dist[a] + w < nxt.get(b, float("inf")):
                nxt[b] = dist[a] + w
        dist = nxt
    assert got == sorted(dist.items())


def _py_substring_runs(corpus, k=3, min_count=2):
    """Pure-Python reference for substring_duplicate_runs: shingle
    multiset -> duplicated set -> per-doc maximal runs."""
    from collections import Counter

    sites = {}  # doc -> [(pos, shingle)]
    counts = Counter()
    for doc_id, text in corpus:
        toks = text.split(" ")
        if len(toks) < k:
            continue
        for i in range(len(toks) - k + 1):
            sh = " ".join(toks[i : i + k])
            sites.setdefault(doc_id, []).append((i + 1, sh))
            counts[sh] += 1
    dup = {sh for sh, c in counts.items() if c >= min_count}
    runs = set()
    for doc_id, ss in sites.items():
        hit = sorted(p for p, sh in ss if sh in dup)
        i = 0
        while i < len(hit):
            j = i
            while j + 1 < len(hit) and hit[j + 1] == hit[j] + 1:
                j += 1
            runs.add((doc_id, hit[i], hit[j] - hit[i] + k, j - i + 1))
            i = j + 1
    return runs


@settings(max_examples=8, deadline=None)
@given(
    docs=st.lists(
        st.lists(st.sampled_from("a b c d".split()), min_size=1, max_size=12),
        min_size=1,
        max_size=8,
    )
)
def test_substring_runs_match_python_reference(spark, docs):
    """substring_duplicate_runs == the brute-force Python definition on
    arbitrary corpora over a 4-word alphabet (tiny vocabulary forces
    heavy shingle collisions, overlapping runs, same-doc repeats). Also
    pins word_ngrams: k=3 here exercises the 2-pass zip_with builder."""
    from fn_rq_report_etl_dev_spark.operators.text_dedup import (
        substring_duplicate_runs,
    )

    corpus = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(corpus, "doc_id long, text string")
    got = {
        (r.doc_id, r.run_start, r.run_len_tokens, r.n_shingles)
        for r in substring_duplicate_runs(df, "doc_id", "text", k=3).collect()
    }
    assert got == _py_substring_runs(corpus, k=3)


@settings(max_examples=8, deadline=None)
@given(
    docs=st.lists(
        st.lists(st.sampled_from("a b c d".split()), min_size=1, max_size=12),
        min_size=1,
        max_size=8,
    )
)
def test_substring_clip_conservation_and_reassembly(spark, docs):
    """substring_clip invariants on arbitrary collision-heavy corpora:
    n_removed == n_tokens - len(text_clean tokens) (conservation),
    text_clean is exactly the source tokens minus the covered positions
    in order, and covered positions are precisely the union of
    [p, p+k-1] over duplicated-shingle sites (checked via the Python
    reference)."""
    from fn_rq_report_etl_dev_spark.operators.text_dedup import (
        substring_clip,
    )

    k = 3
    corpus = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    runs = _py_substring_runs(corpus, k=k)
    covered = {}
    for doc_id, start, length, _ in runs:
        covered.setdefault(doc_id, set()).update(
            range(start, start + length)
        )
    df = spark.createDataFrame(corpus, "doc_id long, text string")
    out = {r.doc_id: r for r in substring_clip(df, "doc_id", "text", k=k).collect()}
    for doc_id, text in corpus:
        toks = text.split(" ")
        want_kept = [
            t for j, t in enumerate(toks, start=1)
            if j not in covered.get(doc_id, set())
        ]
        r = out[doc_id]
        assert r.n_tokens == len(toks)
        assert r.text_clean == " ".join(want_kept)
        assert r.n_removed == len(toks) - len(want_kept)


def _py_bpe(word_freqs, n_merges):
    """Pure-Python BPE reference: char-seeded symbols, argmax pair by
    (weight DESC, a ASC, b ASC), greedy left-to-right rewrite."""
    from collections import Counter

    items = [(list(w), f) for w, f in word_freqs if w]
    merges = []
    for rank in range(1, n_merges + 1):
        pc = Counter()
        for syms, f in items:
            for x, y in zip(syms, syms[1:]):
                pc[(x, y)] += f
        if not pc:
            break
        (a, b), w = min(
            pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((rank, a, b, a + b, w))
        nxt = []
        for syms, f in items:
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            nxt.append((out, f))
        items = nxt
    return merges


@settings(max_examples=6, deadline=None)
@given(
    words=st.lists(
        st.tuples(
            st.text(alphabet="ab", min_size=1, max_size=6),
            st.integers(min_value=1, max_value=5),
        ),
        min_size=1,
        max_size=8,
        unique_by=lambda t: t[0],
    )
)
def test_bpe_matches_python_reference(spark, words):
    """BOTH bpe_pair_merges paths — the in-driver merge loop (default,
    vocab ≤ driver_vocab_limit) and the distributed rounds (forced with
    driver_vocab_limit=0) — produce the identical merge table, equal to
    the brute-force Python BPE, on arbitrary word-frequency tables over
    a 2-char alphabet (heavy pair collisions, overlapping runs like
    'aaaa', merged-symbol reuse across rounds, weight ties resolved by
    the pinned order)."""
    from fn_rq_report_etl_dev_spark.operators.tokenizer import (
        bpe_pair_merges,
    )

    wf = spark.createDataFrame(list(words), "word string, freq long")
    want = _py_bpe(words, n_merges=4)
    got_driver = [
        (r.merge_rank, r.sym_a, r.sym_b, r.merged, r.pair_weight)
        for r in bpe_pair_merges(wf, "word", "freq", n_merges=4).collect()
    ]
    got_dist = [
        (r.merge_rank, r.sym_a, r.sym_b, r.merged, r.pair_weight)
        for r in bpe_pair_merges(
            wf, "word", "freq", n_merges=4, driver_vocab_limit=0
        ).collect()
    ]
    assert got_driver == want
    assert got_dist == want


def _py_kmeans_lloyd(vectors, k, rounds, seed=42):
    """Pure-Python replay of operators.similarity.kmeans_lloyd: md5-seeded
    init pick, (sqdist, cell) argmin over LEFT-FOLD float64 chains,
    2^-20 fixed-point BIGINT mean update, starved cells keep their
    previous centroid. Returns {vec_id: (cell, dist)}."""
    import hashlib
    import math

    order = sorted(
        vectors,
        key=lambda t: (hashlib.md5(f"{seed}:{t[0]}".encode()).hexdigest(), t[0]),
    )
    cents = [[float(x) for x in v] for _, v in order[:k]]
    if not cents:
        return {}

    def best(v):
        top = None
        for i, c in enumerate(cents):
            d = 0.0
            for x, y in zip(v, c):
                d = d + (x - y) * (x - y)
            if top is None or (d, i) < top:
                top = (d, i)
        return top

    dim = len(cents[0])
    for _ in range(rounds):
        sums = {}
        for vid, v in vectors:
            _, cell = best(v)
            s, n = sums.setdefault(cell, ([0] * dim, [0]))
            for j, x in enumerate(v):
                s[j] += int(math.floor(x * 1048576.0))
            n[0] += 1
        cents = [
            [
                (float(sums[i][0][j]) / 1048576.0) / float(sums[i][1][0]) + 0.0
                for j in range(dim)
            ]
            if i in sums
            else cents[i]
            for i in range(len(cents))
        ]
    return {vid: best(v) for vid, v in vectors}


@settings(max_examples=8, deadline=None)
@given(
    vecs=st.lists(
        st.tuples(
            st.floats(-4, 4, allow_nan=False, width=32),
            st.floats(-4, 4, allow_nan=False, width=32),
            st.floats(-4, 4, allow_nan=False, width=32),
        ),
        min_size=1,
        max_size=12,
    ),
    k=st.integers(1, 4),
)
def test_kmeans_lloyd_matches_python_reference(spark, vecs, k):
    """kmeans_lloyd == the pure-Python Lloyd replay (same seeded init,
    fold arithmetic, fixed-point update, starved-cell COALESCE) on
    arbitrary small float corpora — including duplicate vectors, ties,
    and corpora smaller than k. dist compares EXACTLY (bit-identical
    float64 chains)."""
    from fn_rq_report_etl_dev_spark.operators.similarity import kmeans_lloyd

    vectors = [(i, [float(a), float(b), float(c)]) for i, (a, b, c) in enumerate(vecs)]
    df = spark.createDataFrame(vectors, "vec_id long, embedding array<double>")
    got = {r.vec_id: (r.dist, r.cell) for r in kmeans_lloyd(df, k=k, rounds=3).collect()}
    assert got == _py_kmeans_lloyd(vectors, k=k, rounds=3)
