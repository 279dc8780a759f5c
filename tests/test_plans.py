"""Physical-plan property tests: pushdown, pruning, join strategy.

A correct-but-badly-planned operator is not done (the 100 TB contract):
these tests pin the plan shapes the engine depends on.
"""

import tempfile

import pyspark.sql.functions as F
import pytest

import __spark_entry__ as entry_mod

SF = "/root/testdata/sf0.01"


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_and_column_pushdown(spark):
    """The shipdate filter and the 3-column projection must reach the
    parquet scan — a scan reading all 11 lineitem columns is wrong."""
    plan = _physical(entry_mod.queries()["q_scan_pushdown"](spark, SF))
    scan = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    assert "PushedFilters" in plan
    assert "IsNotNull(l_shipdate)" in plan or "isnotnull(l_shipdate" in plan
    # projection pruned to exactly the needed columns
    for col in ("l_quantity", "l_orderkey", "l_discount"):
        assert col not in scan


def test_small_dims_broadcast(spark):
    """customer/nation sides of the revenue join go broadcast-hash, not
    sort-merge — no shuffle of the big fact table."""
    plan = _physical(entry_mod.queries()["q_join_revenue"](spark, SF))
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan


def test_pattern_bank_is_not_nested_loop(spark):
    """J1 matching must never plan a nested-loop join: the bank is
    evaluated as literal regexes + an array_min, then a broadcast
    equi-join on pid."""
    items = spark.createDataFrame(
        [("u", "balance_sheet", 1, "货币资金", "1.0", "0.9", None)],
        "url string, statement_type string, row_idx int, item_name string, "
        "current_period string, previous_period string, note string",
    )
    from pdf_context_extractor_agent_spark.operators.match import match_items

    plan = _physical(match_items(items, spark)["parsed"])
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_match_items_expected_relations(spark):
    """J1-J3 on name-probing edge shapes, every output relation pinned
    row for row: a duplicate category slot keeps its first row, the
    其中：优先股 overlap (non-current liabilities AND equity) resolves to
    the first bank in order, 资产总计 is a totals slot, an unknown name
    and an empty name match nothing and land in ``unmatched`` only."""
    from pdf_context_extractor_agent_spark.operators.match import match_items

    rows = [
        ("u1", "balance_sheet", 1, "货币资金", "1.0", "0.9", None),
        ("u1", "balance_sheet", 2, "货币资金", "2.0", "1.9", None),  # dup slot
        ("u1", "balance_sheet", 3, "其中：优先股", "3.0", None, None),
        ("u1", "balance_sheet", 4, "资产总计", "9.0", "8.0", None),
        ("u1", "balance_sheet", 5, "no such item", "0", None, None),
        ("u2", "income_statement", 1, "其中：营业收入", "5.0", "4.0", "1"),
        ("u2", "cash_flow", 1, "销售商品、提供劳务收到的现金", "6.0", None, None),
        ("u3", "balance_sheet", 1, "", None, None, None),
    ]
    items = spark.createDataFrame(
        rows,
        "url string, statement_type string, row_idx int, item_name string, "
        "current_period string, previous_period string, note string",
    )
    m = match_items(items, spark)

    def got(k, *cols):
        return sorted(map(tuple, m[k].select(*cols).collect()), key=repr)

    slot = ("url", "statement_type", "section_path", "standard_name",
            "original_name", "current_period", "previous_period", "note")
    first_wins = [
        ("u1", "balance_sheet", "assets.assets_total", "assets_total",
         "资产总计", "9.0", "8.0", None),
        ("u1", "balance_sheet", "assets.current_assets", "货币资金",
         "货币资金", "1.0", "0.9", None),
        ("u1", "balance_sheet", "liabilities.non_current_liabilities", "其中：优先股",
         "其中：优先股", "3.0", None, None),
        ("u2", "cash_flow", "operating_activities", "sales_goods_cash",
         "销售商品、提供劳务收到的现金", "6.0", None, None),
        ("u2", "income_statement", "revenue", "operating_revenue",
         "其中：营业收入", "5.0", "4.0", "1"),
    ]
    is_total = [True, False, False, False, False]
    row_order = [4, 1, 3, 1, 1]

    assert got("parsed", *slot, "row_order", "is_total") == [
        (*r, o, t) for r, o, t in zip(first_wins, row_order, is_total)
    ]
    assert got("slots", *slot, "is_total") == [
        (*r, t) for r, t in zip(first_wins, is_total)
    ]
    assert got("matched", "url", "statement_type", "row_idx") == [
        ("u1", "balance_sheet", 1), ("u1", "balance_sheet", 2),
        ("u1", "balance_sheet", 3), ("u1", "balance_sheet", 4),
        ("u2", "cash_flow", 1), ("u2", "income_statement", 1),
    ]
    assert got("unmatched", *items.columns) == [
        ("u1", "balance_sheet", 5, "no such item", "0", None, None),
        ("u3", "balance_sheet", 1, "", None, None, None),
    ]


def test_statement_kernels_evaluate_each_row_once(spark, page_df, tmp_path, monkeypatch):
    """Writing ``parsed``, ``checks`` and ``summary`` runs the items and
    header-map Python kernels once per input row, not once per
    downstream read: ``items`` and the pid-joined relation are lineage
    cuts, and ``parsing_info`` is one aggregation over the latter. An identity
    mapInPandas in front of each kernel adds every batch it forwards to
    an accumulator, so a relation re-derived by a second consumer shows
    up as a multiple of the input row count."""
    from pdf_context_extractor_agent_spark.plans import extract

    seen, inputs = {}, {}

    def counted(name, kernel):
        acc = seen[name] = spark.sparkContext.accumulator(0)

        def forward(batches):
            for b in batches:
                acc.add(len(b))
                yield b

        def call(df):
            inputs[name] = df
            return kernel(df.mapInPandas(forward, df.schema))

        return call

    monkeypatch.setattr(extract, "extract_items", counted("items", extract.extract_items))
    monkeypatch.setattr(extract, "header_maps", counted("header", extract.header_maps))
    res = extract.parse_statements(page_df, spark)
    for key in ("parsed", "checks", "summary"):
        res[key].write.parquet(str(tmp_path / key))
    evaluated = {k: acc.value for k, acc in seen.items()}
    # counted after the writes: counting ``ranged`` runs the header kernel
    expected = {k: df.count() for k, df in inputs.items()}
    assert expected["items"] > 0 and expected["header"] > 0
    assert evaluated == expected


def test_pattern_dim_is_total_constant_per_slot(spark):
    """match_items' min_by/max_by slot aggregation groups on is_total,
    which is only correct while no (statement, section, standard_name)
    slot mixes totals and category patterns — pin that dim property."""
    from pdf_context_extractor_agent_spark.patterns import item_pattern_df

    mixed = (
        item_pattern_df(spark)
        .groupBy("statement_type", "section_path", "standard_name")
        .agg(F.countDistinct("is_total").alias("n"))
        .filter("n > 1")
        .count()
    )
    assert mixed == 0


def test_kernel_input_pruned_to_url_html(spark):
    """The layout kernel ships only (url, html) into Python — never the
    text/lang columns (at 100 TB, `text` alone is tens of TB)."""
    from pdf_context_extractor_agent_spark.kernels import extract_pages

    with tempfile.TemporaryDirectory() as d:
        from pdf_context_extractor_agent_spark.corpus import pages_df

        pages_df(spark, 5).write.mode("overwrite").parquet(d)
        pg = spark.read.parquet(d)
        plan = _physical(extract_pages(pg))
        scan = next(l for l in plan.splitlines() if "FileScan parquet" in l)
        assert "text" not in scan.split("ReadSchema")[0] or "ReadSchema: struct<url:string,html:binary>" in plan


def test_quality_never_reads_html(spark):
    from pdf_context_extractor_agent_spark.functions.quality import quality_features

    with tempfile.TemporaryDirectory() as d:
        from pdf_context_extractor_agent_spark.corpus import pages_df

        pages_df(spark, 5).write.mode("overwrite").parquet(d)
        pg = spark.read.parquet(d)
        plan = _physical(quality_features(pg.select("url", "text")))
        assert "ReadSchema: struct<url:string,text:string>" in plan


def _broadcast_sides(plan) -> list[set[str]]:
    """Column names of the child of every BroadcastExchange in a JVM
    physical plan tree."""
    out, todo = [], [plan]
    while todo:
        node = todo.pop()
        kids = node.children()
        todo += [kids.apply(i) for i in range(kids.size())]
        if node.nodeName() == "BroadcastExchange":
            out.append(set(node.child().schema().fieldNames()))
    return out


def test_no_forced_broadcast_on_per_doc_relations(spark, page_df, monkeypatch):
    """VERDICT r1 regression lock: structure / header-map / per-url
    relations have one-row-per-document cardinality and must NOT carry
    a broadcast hint (at 10^12 rows a forced broadcast OOMs). With auto
    broadcast disabled and AQE off, any BroadcastExchange left in a plan
    comes from an explicit hint, and every one must broadcast a tiny
    dim, named here by its schema: the item-pattern bank or the
    completeness essentials. A hint under a lineage cut leaves the plans
    above it, so the plans checked are every returned relation's and
    the input of each of the plan's five cuts."""
    from pdf_context_extractor_agent_spark.functions.iterate import cut
    from pdf_context_extractor_agent_spark.operators import match, validate
    from pdf_context_extractor_agent_spark.patterns import item_pattern_df
    from pdf_context_extractor_agent_spark.plans import extract

    cut_inputs = []

    def recorded_cut(df):
        cut_inputs.append(df)
        return cut(df)

    monkeypatch.setattr(extract, "cut", recorded_cut)
    monkeypatch.setattr(match, "cut", recorded_cut)
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        # relations other tests cached, planned with AQE on, would leak
        # AQE-CHOSEN broadcasts into these plans; those are legitimate —
        # only compile-time hints are under test
        spark.catalog.clearCache()
        res = extract.parse_statements(page_df, spark)
        plans = [df._jdf.queryExecution().executedPlan()
                 for df in (*cut_inputs, *res.values())]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)
        page_df.persist()  # restore the shared fixture's cache mark
    assert len(cut_inputs) == 5
    dims = [set(item_pattern_df(spark).columns),
            set(validate._essential_dim(spark).columns)]
    sides = [side for p in plans for side in _broadcast_sides(p)]
    assert sides, "pattern dims should still be hint-broadcast"
    for side in sides:
        assert any(side <= dim for dim in dims), (
            f"BroadcastExchange over a per-document relation: {sorted(side)}"
        )


def test_statement_plan_is_cut_at_its_reuse_points(spark, page_df):
    """The statement plan's reused relations are lineage cuts
    (``functions/iterate.py:cut``), not persists: no relation that
    ``parse_statements`` returns nests an InMemoryRelation, and
    ``parsed`` and ``summary`` hold only their own few exchanges. With
    nested persists each reader's plan carried every upstream plan:
    67 and 111 exchanges here, against 3 and 6 cut."""
    from pdf_context_extractor_agent_spark.plans import parse_statements

    plans = {k: _physical(df) for k, df in parse_statements(page_df, spark).items()}
    assert [k for k, p in plans.items() if "InMemoryRelation" in p] == []
    assert plans["parsed"].count("Exchange") <= 4
    assert plans["summary"].count("Exchange") <= 8


def test_trigger_guard_classification():
    """ADVICE r1: the first-char trigger guard must only claim patterns
    it is sound for ('^' + literal char)."""
    from pdf_context_extractor_agent_spark.operators.structure import _guardable
    from pdf_context_extractor_agent_spark.patterns import (
        _ANCHOR_SPEC,
        STATEMENT_END_PATTERNS,
    )

    assert _guardable("^流动资产")
    assert not _guardable("^(流|货)动资产")   # alternation at position 1
    assert not _guardable("流动资产")          # unanchored
    assert not _guardable("^.*每股收益")       # wildcard prefix
    assert not _guardable("^\\d+、")           # escape at position 1
    # current banks: anchors all guardable; only wildcard ends are not
    for spec in _ANCHOR_SPEC.values():
        for _name, _req, pats in spec:
            assert all(_guardable(p) for p in pats)
    assert any(not _guardable(p) for ps in STATEMENT_END_PATTERNS.values() for p in ps)


def test_unguardable_anchor_still_matches(spark, page_df, monkeypatch):
    """A future anchor pattern like '^(A|B)…' must route to the
    unguarded branch and still match — not be silently dropped."""
    from pdf_context_extractor_agent_spark import patterns
    from pdf_context_extractor_agent_spark.operators.structure import (
        _hit_structs_cached,
        identify_structures,
    )
    from pdf_context_extractor_agent_spark.plans.extract import statement_rows

    rows = statement_rows(page_df).persist()
    base = identify_structures(rows, spark, ("balance_sheet",)).collect()

    spec = patterns._ANCHOR_SPEC["balance_sheet"]
    # rewrite the first anchor's patterns into a semantically identical
    # but non-guardable alternation form
    mutated = [
        (name, req, [f"^({p[1]}|￿){p[2:]}" if p.startswith("^") else p for p in pats])
        if i == 0 else (name, req, pats)
        for i, (name, req, pats) in enumerate(spec)
    ]
    monkeypatch.setitem(patterns._ANCHOR_SPEC, "balance_sheet", mutated)
    _hit_structs_cached.cache_clear()  # bank expr is memoized per process
    try:
        got = identify_structures(rows, spark, ("balance_sheet",)).collect()
    finally:
        rows.unpersist()
        _hit_structs_cached.cache_clear()  # drop the mutated bank
    key = lambda r: (r.url, r.statement_type)
    assert sorted(base, key=key) == sorted(got, key=key)


def test_repetition_and_pii_are_shuffle_free(spark):
    """Per-document quality filtering must be a narrow map at 100 TB:
    the repetition and PII queries may not contain a single Exchange,
    and their scans must prune to (doc_id, text)."""
    for name in ("q_repetition", "q_pii_scrub"):
        plan = _physical(entry_mod.queries()[name](spark, SF))
        assert "Exchange" not in plan, f"{name} shuffles:\n{plan[:600]}"
        scan = next(l for l in plan.splitlines() if "FileScan parquet" in l)
        assert "source" not in scan  # untouched column pruned from the scan


def test_chunk_dedup_no_product_join(spark):
    """chunk_dedup's owner join is an equi-join on the chunk — never a
    nested-loop/cartesian product, and document bodies don't ride the
    shuffle (the exploded relation carries only (doc_id, pos, chunk))."""
    plan = _physical(entry_mod.queries()["q_chunk_dedup"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_jaccard_verify_plan_has_no_collect_set(spark):
    """VERDICT r2 regression lock: the LSH verify stage counts
    intersections at the shingle level — no collect_set arrays may be
    built or shipped into the pair join (a long near-dup-heavy document
    would re-ship its whole shingle set once per candidate pair), and
    the candidate generator must not spend a wide exchange deduping the
    pair set (the verify groupBy collapses band-duplicates for free)."""
    from pdf_context_extractor_agent_spark.functions.dedup import (
        jaccard_verify,
        lsh_candidate_pairs,
        minhash_signatures,
        shingles,
    )

    docs = spark.createDataFrame(
        [(i, f"some repeated words for document {i} " * 3) for i in range(4)],
        "doc_id long, text string",
    )
    sh = shingles(docs)
    pairs = lsh_candidate_pairs(minhash_signatures(sh, 16), bands=4)
    plan = _physical(jaccard_verify(pairs, sh))
    assert "collect_set" not in plan.lower()
    # exactly the aggregations the shingle-level count needs — none
    # spent on a pair-set distinct (HashAggregate pairs appear once per
    # (partial, final) and once for the per-doc count dim)
    assert "Exchange" in plan  # sanity: it is still a distributed plan


def test_no_driver_query_builds_a_cartesian_product(spark):
    """Sweep EVERY driver query's physical plan: a CartesianProduct
    anywhere means a join lost its equi-condition (the classic silent
    10^12 x 10^12 catastrophe). Broadcast-nested-loop against one-row
    dims (dangling mass, query vectors) is fine and not flagged."""
    import __spark_entry__ as E

    sf = "/root/testdata/sf0.001"
    for name, fn in E.queries().items():
        plan = fn(spark, sf)._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, name


# --------------------------------------------------------------------------
# ingest plan (WARC → sniff → kernel → WET / markdown)
# --------------------------------------------------------------------------

def test_ingest_end_to_end(spark, tmp_path):
    from pdf_context_extractor_agent_spark.corpus import make_doc
    from pdf_context_extractor_agent_spark.kernels import extract_pages
    from pdf_context_extractor_agent_spark.plans.ingest import ingest
    from pdf_context_extractor_agent_spark.sources.warc import (
        build_warc_bytes,
        iter_warc_records,
    )

    ts = "2024-05-01T00:00:00Z"
    recs = [(f"http://c.org/d{i}", ts, make_doc(i)[2]) for i in range(6)]
    recs.append(("http://c.org/junk", ts, b"\x00\x01binary junk"))
    warc = build_warc_bytes(recs, member_gzip=True)
    p = tmp_path / "crawl.warc.gz"
    p.write_bytes(warc)

    out = ingest(spark, warc_glob=str(p))
    # junk record lands in the discard lane with its sniffed type
    disc = {r["url"]: r["content_type"] for r in out["discarded"].collect()}
    assert disc == {"http://c.org/junk": "text/plain"}
    # extracted text matches a direct kernel run on the same payloads
    direct = extract_pages(
        spark.createDataFrame(
            [(u, bytearray(b)) for u, _t, b in recs[:6]], "url string, html binary"
        )
    )
    want = {
        u: "\n".join(
            r["page_text"]
            for r in sorted(direct.filter(F.col("url") == u).collect(),
                            key=lambda r: r["page"])
        )
        for u in {x[0] for x in recs[:6]}
    }
    got = {r["url"]: r["text"] for r in out["text"].collect()}
    assert got == want
    # WET records re-parse to byte-identical text bodies
    wet_blob = "".join(
        r["wet_record"] for r in out["wet"].orderBy("url").collect()
    ).encode("utf-8")
    back = {u: b.decode("utf-8") for u, _ts, b in iter_warc_records(wet_blob)}
    assert back == want
    # every extractable doc renders to markdown
    md = {r["doc_id"] for r in out["markdown"].collect()}
    assert md == set(want)
