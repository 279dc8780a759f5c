"""Fixed-point PageRank + outlink extraction (functions/graph.py)."""

from __future__ import annotations

import pyspark.sql.functions as F

from pdf_context_extractor_agent_spark.functions.graph import (
    RANK_SCALE,
    extract_outlinks,
    page_rank,
)


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


def test_ring_stays_uniform(spark):
    e = _edges(spark, [(0, 1), (1, 2), (2, 0)])
    r = {x["node"]: x["rank"] for x in page_rank(e, 3, n_iter=4).collect()}
    assert len(set(r.values())) == 1
    assert abs(sum(r.values()) - RANK_SCALE) < 10


def test_hub_accumulates_and_dangling_redistributes(spark):
    # 1,2,3 all link to 0; 0 links nowhere (dangling): its mass spreads
    # evenly, so node 0 must end strictly above the satellites, which
    # stay symmetric with each other
    e = _edges(spark, [(1, 0), (2, 0), (3, 0)])
    r = {x["node"]: x["rank"] for x in page_rank(e, 4, n_iter=5).collect()}
    assert r[0] > r[1]
    assert r[1] == r[2] == r[3]
    # fixed-point truncation loses <1e-9 of mass per iteration
    assert abs(sum(r.values()) - RANK_SCALE) < 1000


def test_rank_is_deterministic_across_runs(spark):
    e = _edges(
        spark,
        [(i, (i * i + 1) % 17) for i in range(17)]
        + [(i, i % 5) for i in range(17)],
    )
    a = sorted((x["node"], x["rank"]) for x in page_rank(e, 17, n_iter=3).collect())
    b = sorted(
        (x["node"], x["rank"])
        for x in page_rank(e.repartition(7), 17, n_iter=3).collect()
    )
    assert a == b  # partial-agg order cannot perturb integer sums


def test_extract_outlinks(spark):
    html = (
        '<html><a href="https://x.example/a">A</a>'
        '<p>no link</p><a href="/rel">R</a><a href="">empty</a></html>'
    ).encode()
    pages = spark.createDataFrame(
        [("u1", html), ("u2", b"<html>none</html>")], "url string, html binary"
    )
    out = [(r["url"], r["outlink"]) for r in extract_outlinks(pages).collect()]
    assert sorted(out) == [("u1", "/rel"), ("u1", "https://x.example/a")]


def test_extract_anchor_texts(spark):
    from pdf_context_extractor_agent_spark.functions.graph import (
        extract_anchor_texts,
    )

    html = (
        '<html><a class="x" href="https://x.example/a">Read <b>this</b>\n'
        'report</a><a href="/b"><img src="i.png"/></a>'
        '<a href="/c">plain</a></html>'
    ).encode()
    pages = spark.createDataFrame([("u1", html)], "url string, html binary")
    out = {
        r["outlink"]: r["anchor_text"] for r in extract_anchor_texts(pages).collect()
    }
    # multiline anchor with inner tags stripped; image-only anchor
    # (empty text) dropped
    assert out == {"https://x.example/a": "Read this\nreport", "/c": "plain"}


# --- HITS ------------------------------------------------------------


def test_hits_star_graph(spark):
    from pdf_context_extractor_agent_spark.functions.graph import HITS_SCALE, hits

    # 1,2,3 -> 0: node 0 is the only authority, 1/2/3 are equal hubs
    e = _edges(spark, [(1, 0), (2, 0), (3, 0)])
    r = {x["node"]: (x["auth"], x["hub"]) for x in hits(e, 4, n_iter=3).collect()}
    assert r[0][0] == HITS_SCALE  # all authority mass
    assert r[1][0] == r[2][0] == r[3][0] == 0
    assert r[0][1] == 0  # node 0 links nowhere
    assert r[1][1] == r[2][1] == r[3][1] == HITS_SCALE // 3


def test_hits_l1_mass_and_determinism(spark):
    from pdf_context_extractor_agent_spark.functions.graph import HITS_SCALE, hits

    e = _edges(
        spark,
        [(i, (i * i + 1) % 17) for i in range(17)]
        + [(i, i % 5) for i in range(17)],
    )
    rows = hits(e, 17, n_iter=2).collect()
    # truncating DIV loses <1 per node of L1 mass per normalization
    assert HITS_SCALE - 17 <= sum(r["auth"] for r in rows) <= HITS_SCALE
    assert HITS_SCALE - 17 <= sum(r["hub"] for r in rows) <= HITS_SCALE
    a = sorted((r["node"], r["auth"], r["hub"]) for r in rows)
    b = sorted(
        (r["node"], r["auth"], r["hub"])
        for r in hits(e.repartition(7), 17, n_iter=2).collect()
    )
    assert a == b  # integer sums: partial-agg order cannot perturb


# --- HyperBall -------------------------------------------------------


def test_hyperball_chain_counts(spark):
    from pdf_context_extractor_agent_spark.functions.graph import hyperball

    # path 0->1->2->3: ball sizes from node 0 are 1, 2, 3 (t=0,1,2);
    # with only 16 registers the estimates are coarse but must be
    # monotone in t and ordered by true reach at every radius
    e = _edges(spark, [(0, 1), (1, 2), (2, 3)])
    r = {x["node"]: x for x in hyperball(e, 4, t_max=2).collect()}
    for v in range(4):
        assert r[v]["n0"] <= r[v]["n1"] + 1e-9 <= r[v]["n2"] + 2e-9
    # node 3 reaches nothing: its ball never grows and harmonic = 0
    assert r[3]["n0"] == r[3]["n1"] == r[3]["n2"]
    assert r[3]["harmonic"] == 0.0
    # every non-sink ball must register SOME growth over 2 hops (16
    # registers can collide on a 4-node graph, so only weak ordering
    # is guaranteed — cross-node rank needs more registers than this
    # collision-prone fixture exercises)
    for v in (0, 1, 2):
        assert r[v]["n2"] > r[v]["n0"]
        assert r[v]["harmonic"] > 0.0


def test_hyperball_deterministic_across_partitioning(spark):
    from pdf_context_extractor_agent_spark.functions.graph import hyperball

    e = _edges(
        spark,
        [(i, (i * 3 + 1) % 13) for i in range(13)]
        + [((i * i) % 13, i) for i in range(13)],
    )
    a = sorted(tuple(r) for r in hyperball(e, 13, t_max=2).collect())
    b = sorted(tuple(r) for r in hyperball(e.repartition(5), 13, t_max=2).collect())
    assert a == b  # register max-merge is order-independent


# --- Label propagation -----------------------------------------------


def test_lpa_two_cliques_converge(spark):
    from pdf_context_extractor_agent_spark.functions.graph import label_propagation

    # two triangles bridged by one weak edge: each triangle collapses
    # to its minimum member label; min-label tie-break keeps it stable
    e = _edges(
        spark,
        [(0, 1), (1, 2), (2, 0), (3, 4), (4, 5), (5, 3), (2, 3)],
    )
    lab = {r["node"]: r["label"] for r in label_propagation(e, 6, n_iter=3).collect()}
    assert lab[0] == lab[1] == lab[2] == 0
    assert lab[3] == lab[4] == lab[5]


def test_lpa_isolated_keeps_own_label_and_deterministic(spark):
    from pdf_context_extractor_agent_spark.functions.graph import label_propagation

    e = _edges(spark, [(0, 1), (1, 2)])
    lab = {r["node"]: r["label"] for r in label_propagation(e, 4, n_iter=2).collect()}
    assert lab[3] == 3  # no edges: label never changes
    a = sorted(
        (r["node"], r["label"])
        for r in label_propagation(e, 4, n_iter=2).collect()
    )
    b = sorted(
        (r["node"], r["label"])
        for r in label_propagation(e.repartition(3), 4, n_iter=2).collect()
    )
    assert a == b


# --- anchor profile --------------------------------------------------


def test_anchor_profile_aggregates_shared_targets(spark):
    from pdf_context_extractor_agent_spark.functions.graph import anchor_profile

    pages = spark.createDataFrame(
        [
            ("u1", '<a href="/t">Great Site</a>'.encode()),
            ("u2", '<a href="/t">great <b>site</b></a>'.encode()),
            ("u3", '<a href="/t">other</a><a href="/x">solo</a>'.encode()),
        ],
        "url string, html binary",
    )
    rows = [
        (r["outlink"], r["rank"], r["term"], r["n"])
        for r in anchor_profile(pages, k=2).collect()
    ]
    assert ("/t", 1, "great", 2) in rows and ("/t", 2, "site", 2) in rows
    assert ("/x", 1, "solo", 1) in rows
    # k=2 cap: 'other' (n=1) ranks 3rd for /t and is cut
    assert all(not (o == "/t" and t == "other") for o, _, t, _ in rows)


def test_host_graph_dense_ids_and_rank(spark):
    from pdf_context_extractor_agent_spark.functions.graph import (
        host_graph,
        host_rank,
    )

    edges = spark.createDataFrame(
        [
            ("https://a.com/1", "https://b.com/x"),
            ("https://a.com/2", "https://b.com/y"),   # same host pair → 1 edge
            ("https://b.com/1", "https://c.com/"),
            ("https://c.com/1", "https://a.com/"),
            ("https://a.com/3", "https://a.com/4"),   # self host loop → dropped
        ],
        "url string, out_url string",
    )
    dim, e = host_graph(edges)
    ids = {r["host"]: r["hid"] for r in dim.collect()}
    assert ids == {"a.com": 0, "b.com": 1, "c.com": 2}  # dense, host-ordered
    got = {(r["src"], r["dst"]) for r in e.collect()}
    assert got == {(0, 1), (1, 2), (2, 0)}  # deduped, no self loops
    ranks = {r["host"]: r["rank"] for r in host_rank(edges).collect()}
    # symmetric 3-cycle → equal ranks
    assert len(set(ranks.values())) == 1 and len(ranks) == 3
    # partitioning must not change the integer ranks
    ranks2 = {r["host"]: r["rank"]
              for r in host_rank(edges.repartition(5)).collect()}
    assert ranks == ranks2


def test_iterative_lineage_is_checkpointed(spark):
    """Every iterative operator must cut its state's lineage between
    rounds: the state fans out (PageRank's contrib + dangling mass both
    read `rank`; pointer doubling self-joins), so an uncut plan
    re-derives every earlier round O(2^rounds) times — the r4
    q_host_rank scale-killer (20.9 s for a 23-host graph).

    Each case tags the relation the initial state is built from with a
    marker that survives optimisation — a filter on a unique literal,
    or the node universe's ``Range`` for the graph ops, whose edges are
    pinned before the loop — and counts its copies in the optimized
    plan of the result. With a cut between rounds only the last round's
    own reads remain, at 2 rounds as at 3; a missing cut leaves the
    initial state in the plan, and the count grows with the rounds."""
    from pdf_context_extractor_agent_spark.functions.bpe import learn_bpe
    from pdf_context_extractor_agent_spark.functions.dedup import (
        connected_components,
    )
    from pdf_context_extractor_agent_spark.functions.graph import (
        hits,
        host_rank,
        hyperball,
        label_propagation,
    )
    from pdf_context_extractor_agent_spark.functions.unigram import (
        piece_counts,
        viterbi_segment,
    )
    from pdf_context_extractor_agent_spark.functions.webtext import (
        pagination_chains,
    )

    mark = 424242  # the unique literal

    def copies(df, marker):
        return df._jdf.queryExecution().optimizedPlan().toString().count(marker)

    pages = spark.createDataFrame(
        [
            ("https://a.com/1", "https://b.com/x"),
            ("https://b.com/1", "https://c.com/"),
            ("https://c.com/1", "https://a.com/"),
        ],
        "url string, out_url string",
    ).filter(F.col("url") != f"https://{mark}/")
    # host_graph's distinct + dense-id prologue runs once, behind its
    # two cuts: the page source is never rescanned by the rank loop
    assert copies(host_rank(pages), str(mark)) == 0

    ids = _edges(spark, [(0, 1), (1, 2), (2, 0), (3, 4)])
    universe = "Range (0, 5,"
    text = "low lower lowest newer wider new low low"
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(text.split(" "))], "doc_id long, text string"
    ).filter(F.col("doc_id") != mark)
    pieces = piece_counts(spark.createDataFrame([(text,)], "text string"))
    words = docs.select(F.col("text").alias("word"))
    links = spark.createDataFrame(
        [(f"u{i}", f"u{i + 1}") for i in range(9)], "url string, next_url string"
    ).filter(F.col("url") != f"u{mark}")
    pairs = _edges(spark, [(i, i + 1) for i in range(9)]).filter(
        F.col("src") != mark
    )
    cases = {
        # (result after r rounds, marker, copies left by the last round)
        "page_rank": (lambda r: page_rank(ids, 5, n_iter=r), universe, 1),
        "hits": (lambda r: hits(ids, 5, n_iter=r), universe, 4),
        "label_propagation": (
            lambda r: label_propagation(ids, 5, n_iter=r), universe, 0),
        "hyperball": (lambda r: hyperball(ids, 5, t_max=r), universe, 0),
        "connected_components": (
            lambda r: connected_components(pairs, "src", "dst", max_iter=r),
            str(mark), 0),
        "learn_bpe": (lambda r: learn_bpe(docs, n_merges=r)[1], str(mark), 0),
        "viterbi_segment": (  # max_word rounds: 5 and 6
            lambda r: viterbi_segment(words, pieces, max_word=r + 3),
            str(mark), 0),
        "pagination_chains": (
            lambda r: pagination_chains(links, rounds=r), str(mark), 0),
    }
    uncut = {}
    for name, (run, marker, left) in cases.items():
        got = [copies(run(r), marker) for r in (2, 3)]
        if max(got) > left:
            uncut[name] = got
    assert not uncut
