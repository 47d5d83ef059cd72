"""Web link graph: hyperlink extraction, anchor text, integer PageRank.

The reference engine indexes each document as an isolated text stream
(`tools/JASS_index.cpp` feeds the parser one buffer per document); web
retrieval at Common-Crawl scale also needs the LINK structure — anchor
text is among the strongest relevance fields (it is how pages describe
each other) and link-derived scores (PageRank) are the classic static
prior. This module adds that layer over the contract-shaped pages table
(sources/webpages.py), public-knowledge only (Page et al. 1999; Craswell
et al. SIGIR'01 on anchor-text effectiveness).

Components
----------
- linked_html / extract_links: pages carry an explicit ``<LINKS>`` block
  of ``<a href="...">anchor</a>`` elements; extraction recovers
  (src, dst, anchor) from the raw html string with a regex — a map-only
  pass (the synthesis is deterministic from the corpus so tests and the
  DuckDB oracle can rebuild the identical bytes; no external data).
- synthesize_links: the deterministic out-link rule each doc follows —
  dst ∈ {(7·id+3) mod n, (13·id+5) mod n, (id+1) mod n} \\ {id}, anchor
  = the first 3 tokens of the TARGET's text (anchor text describes the
  page it points at).
- anchor_field: inbound anchors aggregated per target doc (ordered by
  source id for determinism) — feed it to operators/bm25f.py as a
  weighted field next to the body.
- pagerank: damped power iteration in EXACT integer arithmetic — ranks
  are maintained as integers at a fixed SCALE, per-edge contributions
  use integer division by out-degree, and the damping step is
  (15·SCALE)//100 + (85·Σcontrib)//100. Every op is associative/exact,
  so the result is bitwise-identical at any parallelism AND in any
  engine (the float formulation would drift across summation orders).

Scale shape: extraction is map-only; anchor aggregation is one shuffle
keyed by target doc (partial-agg friendly); PageRank is the standard
iterate of (edges ⋈ ranks → groupBy dst), shuffle keyed by doc_id both
ways — out-degree is bounded here, in-degree skew is absorbed by the
map-side partial sum of contributions. For long chains at cluster scale
pass ``checkpoint_every`` to truncate lineage.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from jassv2_spark.sources.webpages import URL_PREFIX

PR_SCALE = 10**12  # integer fixed-point: rank mass per node at iteration 0
PR_DAMP_NUM, PR_DAMP_DEN = 85, 100  # d = 0.85 as an exact rational

_LINK_RE = r'<a href="([^"]+)">([^<]*)</a>'


def synthesize_links(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    anchor_tokens: int = 3,
) -> DataFrame:
    """(src, dst, anchor): the deterministic out-link rule over any
    (doc_id, text) table. Self-links are dropped, duplicate targets
    collapse. n = corpus size is read off the table (one tiny agg)."""
    n = docs.count()
    did = F.col(id_col).cast("long")
    src = docs.select(
        did.alias("src"),
        F.explode(
            F.array_distinct(
                F.array(
                    (did * 7 + 3) % n, (did * 13 + 5) % n, (did + 1) % n
                )
            )
        ).alias("dst"),
    ).where(F.col("src") != F.col("dst"))
    # anchor text describes the target: its first `anchor_tokens` tokens
    from jassv2_spark.functions.tokenizer import spark_tokens

    tgt = docs.select(
        did.alias("dst"),
        F.array_join(
            F.slice(spark_tokens(text_col, mode="parity"), 1, anchor_tokens), " "
        ).alias("anchor"),
    )
    return src.join(tgt, "dst").select("src", "dst", "anchor")


def linked_html(docs: DataFrame, links: DataFrame, *, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """(url, html): TREC-framed page bytes with an explicit <LINKS> block —
    the contract html of sources/webpages.py extended with out-links
    (ordered by dst for a deterministic byte stream)."""
    did = F.col(id_col).cast("long")
    outl = (
        links.groupBy("src")
        .agg(F.array_sort(F.collect_list(F.struct("dst", "anchor"))).alias("ls"))
        .select(
            F.col("src").alias("__src"),
            F.aggregate(
                "ls",
                F.lit(""),
                lambda acc, s: F.concat(
                    acc, F.lit('<a href="'), F.lit(URL_PREFIX),
                    F.lpad(s["dst"].cast("string"), 8, "0"),
                    F.lit('">'), s["anchor"], F.lit("</a>"),
                ),
            ).alias("links_html"),
        )
    )
    return (
        docs.join(outl, did == F.col("__src"), "left")
        .select(
            F.concat(F.lit(URL_PREFIX), F.lpad(did.cast("string"), 8, "0")).alias("url"),
            F.concat(
                F.lit("<DOC><DOCNO>"), did.cast("string"), F.lit("</DOCNO>"),
                F.col(text_col),
                F.lit("<LINKS>"), F.coalesce(F.col("links_html"), F.lit("")),
                F.lit("</LINKS></DOC>"),
            ).alias("html"),
        )
    )


def extract_links(pages: DataFrame, *, url_col: str = "url",
                  html_col: str = "html") -> DataFrame:
    """(src, dst, anchor) recovered from raw page html — map-only regex
    extraction (the real-web direction of `linked_html`). Urls outside
    the corpus prefix pass through as dst = NULL-free parse of the digit
    tail; callers can range-filter."""
    hrefs = F.expr(f"regexp_extract_all({html_col}, '{_LINK_RE}', 1)")
    texts = F.expr(f"regexp_extract_all({html_col}, '{_LINK_RE}', 2)")
    src = F.substring(F.col(url_col), len(URL_PREFIX) + 1, 8).cast("long")
    return (
        pages.select(
            src.alias("src"),
            F.explode(F.arrays_zip(hrefs.alias("h"), texts.alias("a"))).alias("z"),
        )
        .select(
            "src",
            F.substring(F.col("z.h"), len(URL_PREFIX) + 1, 8).cast("long").alias("dst"),
            F.col("z.a").alias("anchor"),
        )
    )


def anchor_field(links: DataFrame) -> DataFrame:
    """(doc_id, field='anchor', text): inbound anchor text per target,
    source-id-ordered — ready to union with the body field for BM25F."""
    return (
        links.groupBy(F.col("dst").alias("doc_id"))
        .agg(F.array_sort(F.collect_list(F.struct("src", "anchor"))).alias("ls"))
        .select(
            "doc_id",
            F.lit("anchor").alias("field"),
            F.array_join(F.transform("ls", lambda s: s["anchor"]), " ").alias("text"),
        )
    )


def pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    *,
    iterations: int = 10,
    scale: int = PR_SCALE,
    damp_num: int = PR_DAMP_NUM,
    damp_den: int = PR_DAMP_DEN,
    checkpoint_every: int | None = None,
) -> DataFrame:
    """(doc_id, pr): damped PageRank after `iterations` power steps, in
    exact integer arithmetic (see module docstring). `nodes` must carry
    doc_id; `edges` (src, dst). Dangling nodes (no out-links) leak their
    mass — the synthesized graph has none by construction; real graphs
    should add self-loops or redistribute first.

    r₀(v) = scale;  c(u) = r(u) div outdeg(u)
    r(v) ← (15·scale) div 100  +  (85 · Σ_{u→v} c(u)) div 100

    Integer sums are associative ⇒ bitwise-stable at any parallelism;
    with damp < 1 every intermediate fits comfortably in int64 for any
    corpus size (r(v) ≤ scale·(indeg·damp + base) bounded by the usual
    geometric argument; at scale=10¹² there is headroom up to ~10⁶×
    amplification before BIGINT overflow — far beyond real in-degrees
    because contributions are divided by out-degree first).
    """
    base = (damp_den - damp_num) * scale // damp_den
    nd = nodes.select(F.col(nodes.columns[0]).cast("long").alias("doc_id"))
    outd = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outd"))
    e = edges.join(outd, "src").select("src", "dst", "outd").persist()
    ranks = nd.select("doc_id", F.lit(int(scale)).cast("long").alias("r"))
    for i in range(iterations):
        contrib = (
            e.join(ranks.withColumnRenamed("doc_id", "src"), "src")
            .select(F.col("dst").alias("doc_id"), F.expr("r div outd").alias("c"))
        )
        mass = contrib.groupBy("doc_id").agg(F.sum("c").alias("m"))
        ranks = nd.join(mass, "doc_id", "left").select(
            "doc_id",
            (
                F.lit(int(base))
                + F.expr(f"({damp_num} * coalesce(m, cast(0 as long))) div {damp_den}")
            ).cast("long").alias("r"),
        )
        if checkpoint_every and (i + 1) % checkpoint_every == 0:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks.select("doc_id", F.col("r").alias("pr"))


PR_PRIOR_DIV = 10**6  # pr is scale-10^12 fixed point; blend uses pr/10^6 units


def search_authority(
    index,
    queries: DataFrame,
    pr: DataFrame,
    k: int | None = None,
    rho: float = 1.0,
    tokenizer: str | None = None,
    with_keys: bool = True,
) -> DataFrame:
    """(query_id, doc_id, [key,] rsv, pr, blend, rank): BM25 relevance ×
    link-authority prior — the canonical web ranking combination (Brin &
    Page '98 §4.5.1 combine PageRank with text match; the reference
    engine ranks on impact scores alone, no document priors at query
    time).

    blend = rsv · (pr DIV 10⁶): both factors are exact integers (rsv the
    rescaled impact sum, pr the fixed-point PageRank at scale 10¹²), so
    the product is deterministic on any engine; dropping pr's six lowest
    digits keeps blend ≤ rsv·10⁶·headroom, far inside int64. Ordering
    (blend DESC, doc_id DESC).

    Scale shape: serve chain unchanged; the one new join is
    hits ⋈ pr equi-keyed on doc_id (unique right side — the facets/
    freshness shape). The pr table is corpus-sized but the join is
    keyed and AQE-coalesced; nothing is collected or broadcast beyond
    the query side."""
    from jassv2_spark.operators.search import (
        DEFAULT_K,
        _accumulate_hits,
        _query_conf,
        _rank_topk,
        gather_segments,
        parse_queries,
    )

    k = DEFAULT_K if k is None else k
    q_terms = parse_queries(queries, *_query_conf(index, tokenizer))
    seg = gather_segments(index, q_terms, rho=rho)
    hits = _accumulate_hits(index, q_terms, seg)
    blended = hits.join(pr.select("doc_id", "pr"), "doc_id").withColumn(
        "blend", F.expr(f"rsv * (pr DIV {PR_PRIOR_DIV})").cast("long")
    )
    return _rank_topk(
        index, blended, int(k), with_keys, score="blend", cols=("rsv", "pr", "blend")
    ).withColumn("rank", F.col("rank").cast("long"))


def triangle_stats(links: DataFrame) -> DataFrame:
    """One row (n_vertices, n_edges, n_wedges, n_triangles,
    transitivity_ppm): undirected triangle census of the link graph —
    the standard web/community-structure QA scalar (clustering
    coefficient) next to PageRank.

    Algorithm: degree-ordered edge orientation (Cohen's MapReduce
    triangle counting / Suri & Vassilvitskii WWW'11): orient every
    undirected edge from its lower-(degree, id) endpoint to the higher
    one, build wedges by self-joining oriented edges on their apex, and
    close each wedge against the undirected edge set. Every triangle is
    counted exactly once (its unique lowest-(degree, id) vertex is the
    apex), and per-apex fan-out is bounded by the graph's arboricity
    rather than by max degree — THE property that keeps the wedge join
    from going quadratic on celebrity hubs at web scale.

    n_wedges is the classic Σ d(d−1)/2 path-of-length-2 count;
    transitivity_ppm = (3·10⁶·triangles) DIV wedges, exact integers
    throughout so any engine reproduces it bitwise."""
    e = links.select("src", "dst").where(F.col("src") != F.col("dst"))
    und = e.select(
        F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
    ).distinct()
    deg = (
        und.select(F.col("u").alias("x"))
        .unionAll(und.select(F.col("v").alias("x")))
        .groupBy("x")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    da = deg.select(F.col("x").alias("u"), F.col("d").alias("du"))
    db = deg.select(F.col("x").alias("v"), F.col("d").alias("dv"))
    lower_first = F.struct("du", "u") < F.struct("dv", "v")
    ori = (
        und.join(da, "u")
        .join(db, "v")
        .select(
            F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("a"),
            F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("b"),
        )
    )
    e1 = ori.select(F.col("a"), F.col("b").alias("b1"))
    e2 = ori.select(F.col("a"), F.col("b").alias("b2"))
    wedges = e1.join(e2, "a").where(F.col("b1") < F.col("b2"))
    tri = wedges.join(
        und, (und["u"] == wedges["b1"]) & (und["v"] == wedges["b2"])
    ).agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))

    nv = deg.agg(F.count(F.lit(1)).cast("long").alias("n_vertices"))
    ne = und.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    nw = deg.agg(
        F.sum(F.expr("(d * (d - 1)) DIV 2")).cast("long").alias("n_wedges")
    )
    out = nv.crossJoin(ne).crossJoin(nw).crossJoin(tri)
    return out.select(
        "n_vertices",
        "n_edges",
        "n_wedges",
        "n_triangles",
        F.when(
            F.col("n_wedges") > 0,
            F.expr("(3000000 * n_triangles) DIV n_wedges"),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("transitivity_ppm"),
    )


HITS_SCALE = 10**6


def hits(
    nodes: DataFrame,
    edges: DataFrame,
    *,
    iterations: int = 10,
    scale: int = HITS_SCALE,
) -> DataFrame:
    """(doc_id, hub, auth): Kleinberg's HITS (JACM'99) after `iterations`
    mutual-reinforcement steps — the second classic link-analysis ranker
    next to :func:`pagerank` (authorities ≈ good content, hubs ≈ good
    link pages; the query-independent form over the whole graph).

    Determinism recipe: scores live in [0, scale] int64; each half-step
    is an EXACT integer sum (auth(v) ← Σ hub(u) over u→v), then
    max-normalized through ONE fixed IEEE chain
    floor(v::double / max::double · scale) — identical op order on any
    engine/parallelism, so the result is bitwise-portable without the
    int64 overflow a pure-integer v·scale//max would risk at web-scale
    in-degrees (Σ over 10⁸ in-links × 10⁶ ≈ 10¹⁴ stays exact; ×scale
    would not).

    Scale shape: per iteration two (node)-keyed partial-agg exchanges
    (the transposed-edge joins) + one broadcast single-row max; the edge
    list is persisted once. Each half-step's raw sums are EAGERLY
    localCheckpoint-ed before normalization: the normalize step references
    the raw frame twice (max aggregate + rescale join), so without
    truncation the logical plan would DOUBLE per half-step (2^(2·iters)
    nodes — Catalyst analysis hangs long before execution). PageRank
    escapes this because its mass frame is referenced once; here the
    checkpoint is load-bearing, not an option, and it is node-sized
    (doc_id + one int64), never postings-sized."""
    nd = nodes.select(F.col(nodes.columns[0]).cast("long").alias("doc_id"))
    e = edges.select("src", "dst").where(F.col("src") != F.col("dst")).distinct().persist()

    def _norm(raw: DataFrame, col: str) -> DataFrame:
        mx = raw.agg(F.max(col).alias("__mx"))
        return (
            nd.join(raw, "doc_id", "left")
            .crossJoin(F.broadcast(mx))
            .select(
                "doc_id",
                F.when(
                    F.col("__mx") > 0,
                    F.floor(
                        F.coalesce(F.col(col), F.lit(0)).cast("double")
                        / F.col("__mx").cast("double")
                        * F.lit(float(scale))
                    ),
                )
                .otherwise(F.lit(0))
                .cast("long")
                .alias(col),
            )
        )

    hub = nd.select("doc_id", F.lit(int(scale)).cast("long").alias("hub"))
    auth = None
    for _ in range(iterations):
        araw = (
            e.join(hub.withColumnRenamed("doc_id", "src"), "src")
            .groupBy(F.col("dst").alias("doc_id"))
            .agg(F.sum("hub").alias("auth"))
            .localCheckpoint(eager=True)
        )
        auth = _norm(araw, "auth")
        hraw = (
            e.join(auth.withColumnRenamed("doc_id", "dst"), "dst")
            .groupBy(F.col("src").alias("doc_id"))
            .agg(F.sum("auth").alias("hub"))
            .localCheckpoint(eager=True)
        )
        hub = _norm(hraw, "hub")
    return hub.join(auth, "doc_id").select("doc_id", "hub", "auth")


def cocitation_pairs(
    links: DataFrame, *, min_count: int = 1, max_outd: int = 64
) -> DataFrame:
    """(doc_a, doc_b, cocites): co-citation similarity (Small, JASIS 1973)
    — how many pages cite both a and b; the classic link-based
    related-pages signal, dual of :func:`coupling_pairs`.

    Scale shape: the per-source self-join fans out ≤ outd² pairs, so
    sources with out-degree > `max_outd` (link farms, mega-hubs — the
    graph's Zipf head) are dropped FIRST, the same df-cap move as
    mlt.related_doc_pairs; the join itself is an equi-join on src, never
    all-pairs, and the pair counts partial-aggregate map-side."""
    e = links.select("src", "dst").where(F.col("src") != F.col("dst")).distinct()
    outd = e.groupBy("src").agg(F.count(F.lit(1)).alias("outd"))
    ee = e.join(outd.where(F.col("outd") <= F.lit(int(max_outd))), "src").select(
        "src", "dst"
    )
    return (
        ee.alias("a")
        .join(ee.alias("b"), "src")
        .where(F.col("a.dst") < F.col("b.dst"))
        .groupBy(F.col("a.dst").alias("doc_a"), F.col("b.dst").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("cocites"))
        .where(F.col("cocites") >= F.lit(int(min_count)))
    )


def coupling_pairs(
    links: DataFrame, *, min_count: int = 1, max_ind: int = 64
) -> DataFrame:
    """(doc_a, doc_b, couples): bibliographic coupling (Kessler, American
    Documentation 1963) — how many pages a and b both cite; the
    transposed dual of :func:`cocitation_pairs`, with the in-degree cap
    playing the hot-key role (a page cited by the whole web would
    otherwise pair every citer with every other)."""
    e = links.select("src", "dst").where(F.col("src") != F.col("dst")).distinct()
    ind = e.groupBy("dst").agg(F.count(F.lit(1)).alias("ind"))
    ee = e.join(ind.where(F.col("ind") <= F.lit(int(max_ind))), "dst").select(
        "src", "dst"
    )
    return (
        ee.alias("a")
        .join(ee.alias("b"), "dst")
        .where(F.col("a.src") < F.col("b.src"))
        .groupBy(F.col("a.src").alias("doc_a"), F.col("b.src").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("couples"))
        .where(F.col("couples") >= F.lit(int(min_count)))
    )


def trustrank(
    nodes: DataFrame,
    edges: DataFrame,
    seeds: DataFrame,
    *,
    iterations: int = 10,
    scale: int = PR_SCALE,
    damp_num: int = PR_DAMP_NUM,
    damp_den: int = PR_DAMP_DEN,
) -> DataFrame:
    """(doc_id, trust): TrustRank (Gyöngyi, Garcia-Molina & Pedersen,
    VLDB'04) — PageRank with the teleport mass restricted to a vetted
    seed set, so trust attenuates with link distance from the seeds and
    spam farms far from them starve. Same exact-integer fixed-point
    recipe as :func:`pagerank` (bitwise at any parallelism / engine);
    the only change is the base term: (15·scale)//100 for seeds, 0
    otherwise. `seeds`' first column is the seed doc_id; it is broadcast
    (vetted seed lists are small by construction)."""
    base = (damp_den - damp_num) * scale // damp_den
    nd = nodes.select(F.col(nodes.columns[0]).cast("long").alias("doc_id"))
    sd = seeds.select(F.col(seeds.columns[0]).cast("long").alias("doc_id")).distinct()
    nds = nd.join(
        F.broadcast(sd.withColumn("__b", F.lit(int(base)))), "doc_id", "left"
    ).select("doc_id", F.coalesce("__b", F.lit(0)).cast("long").alias("base"))
    outd = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outd"))
    e = edges.join(outd, "src").select("src", "dst", "outd").persist()
    ranks = nds.select("doc_id", F.col("base").alias("r"))
    for _ in range(iterations):
        contrib = e.join(ranks.withColumnRenamed("doc_id", "src"), "src").select(
            F.col("dst").alias("doc_id"), F.expr("r div outd").alias("c")
        )
        mass = contrib.groupBy("doc_id").agg(F.sum("c").alias("m"))
        ranks = nds.join(mass, "doc_id", "left").select(
            "doc_id",
            (
                F.col("base")
                + F.expr(f"({damp_num} * coalesce(m, cast(0 as long))) div {damp_den}")
            ).cast("long").alias("r"),
        )
    return ranks.select("doc_id", F.col("r").alias("trust"))


def hyperball(
    nodes: DataFrame, edges: DataFrame, *, radius: int = 3
) -> DataFrame:
    """(doc_id, sum_inv, est): HyperBall (Boldi & Vigna, "In-Core
    Computation of Geometric Centralities with HyperBall", ICDMW'13 /
    the HyperANF line of work) — per-node estimates of |ball(v, r)|, the
    number of nodes reachable from v in ≤ `radius` out-steps, via
    iterated HLL register max-merge along edges. Neighbourhood-function
    profiles are the standard way to study web-graph connectivity where
    exact per-node BFS is hopeless.

    Determinism: registers use operators/sketch.py's fully-specified HLL
    (32-bit md5-prefix hash, 64 registers), merges are max (associative,
    order-free), sum_inv is the exact-integer Σ2^(27-M_j), and est is ONE
    IEEE division by a driver-literal constant — bitwise on any engine.

    Scale shape: registers live as (node, bucket, m_rho) rows — 64 rows
    per node; each iteration is one (dst)-keyed equi-join of the edge
    list onto the registers and one (node, bucket)-keyed max agg
    (partial-agg collapses to ≤ 64 rows per node per task before the
    shuffle, so hot in-degree nodes skew the join input, not the
    exchange). Register frames are eagerly localCheckpoint-ed — each is
    referenced twice per step (self ∪ neighbour-merge), the same
    lineage-doubling geometry as :func:`hits`. A 100 TB deployment would
    pack the 64 registers into a binary column to cut the 64× row
    fan-out; the row layout keeps every op a built-in JVM expression.
    """
    from jassv2_spark.operators.sketch import (
        _RHO_MAX,
        HLL_M,
        hll_alpha,
        hll_registers,
    )

    nd = nodes.select(F.col(nodes.columns[0]).cast("long").alias("doc_id"))
    e = edges.select("src", "dst").where(F.col("src") != F.col("dst")).distinct()
    reg = hll_registers(nd, ["doc_id"], "doc_id").localCheckpoint(eager=True)
    for _ in range(radius):
        contrib = e.join(reg.withColumnRenamed("doc_id", "dst"), "dst").select(
            F.col("src").alias("doc_id"), "bucket", "m_rho"
        )
        reg = (
            reg.unionByName(contrib)
            .groupBy("doc_id", "bucket")
            .agg(F.max("m_rho").alias("m_rho"))
            .localCheckpoint(eager=True)
        )
    inv = F.expr(f"shiftleft(cast(1 as bigint), cast({_RHO_MAX} - m_rho as int))")
    s = reg.groupBy("doc_id").agg(F.sum(inv).cast("long").alias("sum_inv"))
    c = hll_alpha(HLL_M) * float(HLL_M * HLL_M * (1 << _RHO_MAX))
    return s.select(
        "doc_id",
        "sum_inv",
        (F.lit(c) / F.col("sum_inv").cast("double")).alias("est"),
    )


def hyperball_profile(
    nodes: DataFrame, edges: DataFrame, *, radius: int = 3
) -> DataFrame:
    """(doc_id, r, sum_inv): the per-node neighbourhood-function profile —
    HLL ball-size registers summed after EVERY step r = 0..radius, the
    curve HyperANF/HyperBall actually reports (|ball(v,r)| growth feeds
    effective-diameter and harmonic-centrality estimates). Same register
    recipe and per-step shape as :func:`hyperball`; the per-radius
    aggregate adds one node-keyed sum per step, and the final result is
    the union of radius+1 node-sized frames."""
    from jassv2_spark.operators.sketch import _RHO_MAX, hll_registers

    inv = F.expr(f"shiftleft(cast(1 as bigint), cast({_RHO_MAX} - m_rho as int))")

    def _sums(reg: DataFrame, r: int) -> DataFrame:
        return reg.groupBy("doc_id").agg(
            F.lit(r).cast("long").alias("r"), F.sum(inv).cast("long").alias("sum_inv")
        )

    nd = nodes.select(F.col(nodes.columns[0]).cast("long").alias("doc_id"))
    e = edges.select("src", "dst").where(F.col("src") != F.col("dst")).distinct()
    reg = hll_registers(nd, ["doc_id"], "doc_id").localCheckpoint(eager=True)
    out = _sums(reg, 0)
    for r in range(1, radius + 1):
        contrib = e.join(reg.withColumnRenamed("doc_id", "dst"), "dst").select(
            F.col("src").alias("doc_id"), "bucket", "m_rho"
        )
        reg = (
            reg.unionByName(contrib)
            .groupBy("doc_id", "bucket")
            .agg(F.max("m_rho").alias("m_rho"))
            .localCheckpoint(eager=True)
        )
        out = out.unionByName(_sums(reg, r))
    return out


def salsa(
    nodes: DataFrame,
    edges: DataFrame,
    *,
    iterations: int = 10,
    scale: int = HITS_SCALE,
) -> DataFrame:
    """(doc_id, hub, auth): SALSA (Lempel & Moran, WWW 2000 / TOIT'01) —
    the stochastic cousin of HITS: each half-step contribution is
    degree-normalized (hub mass splits over the source's out-links,
    authority mass over the target's in-links), so scores follow the
    bipartite random walk instead of raw mutual reinforcement and
    tightly-knit communities can't capture the ranking (the TKC effect
    SALSA was built to fix). Same exact-int64 + fixed-IEEE max-norm
    recipe and the same per-half-step eager checkpoint as :func:`hits`
    (the normalize step references each raw frame twice)."""
    nd = nodes.select(F.col(nodes.columns[0]).cast("long").alias("doc_id"))
    e0 = edges.select("src", "dst").where(F.col("src") != F.col("dst")).distinct()
    outd = e0.groupBy("src").agg(F.count(F.lit(1)).alias("outd"))
    ind = e0.groupBy("dst").agg(F.count(F.lit(1)).alias("ind"))
    e = e0.join(outd, "src").join(ind, "dst").persist()

    def _norm(raw: DataFrame, col: str) -> DataFrame:
        mx = raw.agg(F.max(col).alias("__mx"))
        return (
            nd.join(raw, "doc_id", "left")
            .crossJoin(F.broadcast(mx))
            .select(
                "doc_id",
                F.when(
                    F.col("__mx") > 0,
                    F.floor(
                        F.coalesce(F.col(col), F.lit(0)).cast("double")
                        / F.col("__mx").cast("double")
                        * F.lit(float(scale))
                    ),
                )
                .otherwise(F.lit(0))
                .cast("long")
                .alias(col),
            )
        )

    hub = nd.select("doc_id", F.lit(int(scale)).cast("long").alias("hub"))
    auth = None
    for _ in range(iterations):
        araw = (
            e.join(hub.withColumnRenamed("doc_id", "src"), "src")
            .groupBy(F.col("dst").alias("doc_id"))
            .agg(F.sum(F.expr("hub div outd")).alias("auth"))
            .localCheckpoint(eager=True)
        )
        auth = _norm(araw, "auth")
        hraw = (
            e.join(auth.withColumnRenamed("doc_id", "dst"), "dst")
            .groupBy(F.col("src").alias("doc_id"))
            .agg(F.sum(F.expr("auth div ind")).alias("hub"))
            .localCheckpoint(eager=True)
        )
        hub = _norm(hraw, "hub")
    return hub.join(auth, "doc_id").select("doc_id", "hub", "auth")


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    *,
    rounds: int = 10,
) -> DataFrame:
    """(doc_id, component): weakly-connected components of the link
    graph, component id = the MINIMUM doc_id in the component — the
    crawl-scale primitive behind mirror-site grouping, spam-farm
    detection and per-site dedup domains.

    Algorithm: deterministic min-label propagation with pointer
    jumping (the classic Shiloach–Vishkin / hash-min hybrid used by
    every MPP CC implementation). Labels start at own id; each round
    does (1) a neighbour-min over the SYMMETRIZED edge set
    m(v) = min(l(v), min_{u~v} l(u)), then (2) one pointer jump
    l'(v) = min(m(v), m(m(v))) — legal because labels are always node
    ids. The jump re-doubles the propagation radius every round
    (r' ≥ 2r + 1), so `rounds` = 10 covers any graph of effective
    diameter ≲ 2¹⁰ and O(log d) covers web graphs generally. Every op
    is an exact int64 min — no floats anywhere — so the fixpoint AND
    every intermediate round are bitwise identical on any engine and
    any parallelism; a fixed round count therefore stays cross-engine
    comparable even before convergence.

    Scale shape: per round two (node)-keyed exchanges (neighbour-min
    partial-agg, jump equi-join on the label) over node-sized frames;
    the symmetrized edge list is persisted once. m is referenced twice
    by the jump (as frame and as lookup side), so each round is
    eagerly localCheckpoint-ed — the same plan-doubling guard as
    :func:`hits`, and the checkpoint is again node-sized."""
    nd = nodes.select(F.col(nodes.columns[0]).cast("long").alias("doc_id"))
    und = (
        edges.select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    sym = und.unionByName(
        und.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).persist()

    lab = nd.select("doc_id", F.col("doc_id").alias("lab"))
    for _ in range(rounds):
        nb = (
            sym.join(lab.withColumnRenamed("doc_id", "v"), "v")
            .groupBy(F.col("u").alias("doc_id"))
            .agg(F.min("lab").alias("nl"))
        )
        m = (
            lab.join(nb, "doc_id", "left")
            .select(
                "doc_id",
                F.least(F.col("lab"), F.coalesce(F.col("nl"), F.col("lab"))).alias(
                    "lab"
                ),
            )
            .localCheckpoint(eager=True)
        )
        lab = (
            m.alias("a")
            .join(
                m.select(
                    F.col("doc_id").alias("lab"), F.col("lab").alias("jl")
                ).alias("b"),
                "lab",
            )
            .select(F.col("a.doc_id").alias("doc_id"), F.least("lab", "jl").alias("lab"))
        )
    return lab.select("doc_id", F.col("lab").alias("component"))


def seed_distance(
    nodes: DataFrame,
    edges: DataFrame,
    seeds: DataFrame,
    *,
    max_hops: int = 6,
) -> DataFrame:
    """(doc_id, dist): directed link distance (hop count) from a seed
    set — crawl-depth QA and the structural companion to
    :func:`trustrank` (which decays the same distances geometrically):
    pages more than a few clicks from any vetted hub are prime
    spam/orphan candidates. dist = length of the shortest directed
    path from any seed, computed by `max_hops` Bellman-Ford rounds
    d'(v) = min(d(v), 1 + min_{u→v} d(u)); nodes not reached within
    `max_hops` report dist = -1.

    Exact integer mins throughout — every round is bitwise portable
    across engines and parallelism. Scale shape: one (node)-keyed
    partial-agg exchange per round over node-sized frames (the edge
    list persisted once); the distance frame is referenced twice per
    round (self term + relax term), hence the eager localCheckpoint
    lineage guard shared with :func:`hits`."""
    _far = 1 << 40  # sentinel ≫ any real hop count, still safe to +1
    nd = nodes.select(F.col(nodes.columns[0]).cast("long").alias("doc_id"))
    e = edges.select("src", "dst").where(F.col("src") != F.col("dst")).distinct().persist()
    sd = seeds.select(F.col(seeds.columns[0]).cast("long").alias("doc_id")).distinct()

    dist = nd.join(sd.withColumn("__s", F.lit(1)), "doc_id", "left").select(
        "doc_id",
        F.when(F.col("__s").isNotNull(), F.lit(0))
        .otherwise(F.lit(_far))
        .cast("long")
        .alias("dist"),
    )
    for _ in range(max_hops):
        relax = (
            e.join(dist.withColumnRenamed("doc_id", "src"), "src")
            .groupBy(F.col("dst").alias("doc_id"))
            .agg((F.min("dist") + F.lit(1)).alias("rd"))
        )
        dist = (
            dist.join(relax, "doc_id", "left")
            .select(
                "doc_id",
                F.least(F.col("dist"), F.coalesce(F.col("rd"), F.col("dist"))).alias(
                    "dist"
                ),
            )
            .localCheckpoint(eager=True)
        )
    return dist.select(
        "doc_id",
        F.when(F.col("dist") >= _far, F.lit(-1)).otherwise(F.col("dist"))
        .cast("long")
        .alias("dist"),
    )


def degree_profile(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """(direction, bucket, n_nodes): in/out-degree distribution of the
    link graph in exact power-of-two buckets — the crawl-QA companion to
    the text side's Zipf/Heaps profiles (a healthy web graph shows a
    power-law tail; a crawler trap or template explosion shows up as a
    spike). bucket = length(bin(degree)) − 1 (integer math, no float
    log2 boundary risk — same recipe as textstats.dl_histogram); nodes
    with zero in/out links land in bucket −1 so danglers are visible.

    Scale: degree agg is one (node)-keyed exchange; the histogram is a
    ≤64-row agg on top. Map-side partial aggs both times."""
    nd = nodes.select(F.col(nodes.columns[0]).cast("long").alias("doc_id"))
    e = edges.select("src", "dst").where(F.col("src") != F.col("dst")).distinct()

    def _hist(key: str, direction: str) -> DataFrame:
        deg = e.groupBy(F.col(key).alias("doc_id")).agg(
            F.count(F.lit(1)).alias("deg")
        )
        return (
            nd.join(deg, "doc_id", "left")
            .select(
                F.lit(direction).alias("direction"),
                F.when(
                    F.col("deg").isNull(), F.lit(-1)
                )
                .otherwise(F.length(F.bin(F.col("deg"))) - 1)
                .cast("long")
                .alias("bucket"),
            )
            .groupBy("direction", "bucket")
            .agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
        )

    return _hist("src", "out").unionByName(_hist("dst", "in"))


def reciprocity_stats(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """Single row (n_nodes, n_edges, n_reciprocal, reciprocity_ppm,
    n_dangling): directed-edge reciprocity (how much of the graph is
    mutual linking — high reciprocity between hosts is a link-farm
    signal, cf. the TKC motivation behind :func:`salsa`) plus the
    dangling-node count PageRank folklore cares about. n_reciprocal
    counts DIRECTED edges whose reverse also exists; reciprocity_ppm =
    (10⁶ · n_reciprocal) DIV n_edges exact-integer.

    Scale: the reciprocal check is a self equi-join on the reversed key
    — hash join on (src, dst), never a cross product; dangling is an
    anti-join. All counts associative int64."""
    nd = nodes.select(F.col(nodes.columns[0]).cast("long").alias("doc_id"))
    e = edges.select("src", "dst").where(F.col("src") != F.col("dst")).distinct().persist()
    nn = nd.agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    en = e.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    rn = (
        e.join(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst")),
            ["src", "dst"],
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_reciprocal"))
    )
    dn = (
        nd.join(
            e.select(F.col("src").alias("doc_id")).distinct(), "doc_id", "left_anti"
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_dangling"))
    )
    # four single-row aggs crossJoined lazily — no driver collect
    return (
        nn.crossJoin(en)
        .crossJoin(rn)
        .crossJoin(dn)
        .select(
            "n_nodes",
            "n_edges",
            "n_reciprocal",
            F.when(F.col("n_edges") > 0,
                   F.expr("(1000000 * n_reciprocal) div n_edges"))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("reciprocity_ppm"),
            "n_dangling",
        )
    )


def anf_curve(
    nodes: DataFrame, edges: DataFrame, *, radius: int = 3
) -> DataFrame:
    """(r, n_micros, frac_ppm): the corpus-level ANF / neighbourhood
    function N(r) = Σ_v |ball(v, r)| (HyperANF's headline curve, Boldi-
    Rosa-Vigna WWW'11) and the reachable-pair fraction vs the largest
    measured radius — the curve effective-diameter estimates read off
    (the effective diameter at q is where frac crosses q).

    Determinism recipe: per-node est_micros = floor(C·10⁶ / sum_inv) —
    ONE IEEE division of the exact-integer register sum by a driver
    literal, floored to int64, so the corpus N(r) is an associative
    integer sum (order-free at any parallelism); frac_ppm is one more
    fixed double chain floor(10⁶·N(r)/N(radius)). Scale shape: the per-
    radius register sums come from :func:`hyperball_profile` (node-
    sized frames, ≤64-row per-node partial aggs); everything after is
    a (radius+1)-row frame."""
    from jassv2_spark.operators.sketch import _RHO_MAX, HLL_M, hll_alpha

    prof = hyperball_profile(nodes, edges, radius=radius)
    c6 = hll_alpha(HLL_M) * float(HLL_M * HLL_M * (1 << _RHO_MAX)) * 1e6
    em = F.floor(F.lit(c6) / F.col("sum_inv").cast("double")).cast("long")
    n = (
        prof.select("r", em.alias("em"))
        .groupBy("r")
        .agg(F.sum("em").cast("long").alias("n_micros"))
        .localCheckpoint(eager=True)  # tiny (radius+1 rows), referenced twice
    )
    tot = n.where(F.col("r") == radius).select(F.col("n_micros").alias("__nt"))
    return (
        n.crossJoin(F.broadcast(tot))
        .select(
            "r",
            "n_micros",
            F.floor(
                F.lit(1e6)
                * F.col("n_micros").cast("double")
                / F.col("__nt").cast("double")
            )
            .cast("long")
            .alias("frac_ppm"),
        )
    )


def effective_diameter_micros(
    curve_rows: list, *, q_ppm: int = 900_000
) -> int:
    """Driver-side readout of the effective diameter at fraction q from
    collected :func:`anf_curve` rows (radius+1 rows — trivially small):
    the smallest r with frac_ppm ≥ q_ppm, linearly interpolated between
    r−1 and r in micros (the standard HyperANF interpolation). Returns
    radius·10⁶ if the threshold is never crossed below the cap."""
    rows = sorted((int(x["r"]), int(x["frac_ppm"])) for x in curve_rows)
    prev = None
    for r, frac in rows:
        if frac >= q_ppm:
            if prev is None or prev[1] >= q_ppm:
                return r * 10**6
            pr, pf = prev
            return pr * 10**6 + (10**6 * (q_ppm - pf)) // (frac - pf)
        prev = (r, frac)
    return rows[-1][0] * 10**6


def harmonic_centrality(
    nodes: DataFrame, edges: DataFrame, *, radius: int = 3
) -> DataFrame:
    """(doc_id, harmonic_micros): harmonic centrality estimated the
    HyperBall way (Boldi & Vigna, "Axioms for Centrality" / the
    ICDMW'13 HyperBall paper's headline application):
    H(v) = Σ_{r≥1} (|ball(v,r)| − |ball(v,r−1)|)/r, truncated at
    `radius` — the centrality the authors argue is THE principled one
    for web graphs (handles disconnectedness, rewards closeness).

    Exactness recipe: per-node per-radius est_micros = floor(C·10⁶ /
    register-sum) as in :func:`anf_curve`; the per-radius deltas are
    multiplied by lcm(1..radius)//r and integer-divided by the lcm at
    the end — so after the one floored IEEE division per (node, radius)
    everything is exact associative int64 and the result is bitwise on
    any engine/parallelism. Scale shape: the profile's node-sized
    frames plus one (doc_id)-keyed window over radius+1 rows per node."""
    from pyspark.sql import Window

    from jassv2_spark.operators.sketch import _RHO_MAX, HLL_M, hll_alpha

    L = math.lcm(*range(1, radius + 1)) if radius >= 1 else 1
    prof = hyperball_profile(nodes, edges, radius=radius)
    c6 = hll_alpha(HLL_M) * float(HLL_M * HLL_M * (1 << _RHO_MAX)) * 1e6
    em = F.floor(F.lit(c6) / F.col("sum_inv").cast("double")).cast("long")
    w = Window.partitionBy("doc_id").orderBy("r")
    return (
        prof.select("doc_id", "r", em.alias("em"))
        .withColumn("prev", F.lag("em").over(w))
        .where(F.col("r") >= 1)
        .select(
            "doc_id",
            (
                (F.col("em") - F.col("prev"))
                * F.element_at(
                    F.array(*[F.lit(L // rr) for rr in range(1, radius + 1)]),
                    F.col("r").cast("int"),
                )
            ).alias("contrib"),
        )
        .groupBy("doc_id")
        .agg(F.expr(f"sum(contrib) div {L}").cast("long").alias("harmonic_micros"))
    )


def spam_mass(
    pr: DataFrame, trust: DataFrame, *, threshold_micros: int = 500_000
) -> DataFrame:
    """(doc_id, pr, trust, rel_mass_micros, spam_suspect): relative spam
    mass (Gyöngyi, Berkhin, Garcia-Molina & Pedersen, "Link Spam Detection
    Based on Mass Estimation", VLDB'06). Normalise PageRank and TrustRank
    to distributions p̂ = pr/ΣPR and t̂ = trust/ΣTR; the fraction of a
    page's rank NOT reachable from the vetted good core is
    m̃(v) = (p̂ − t̂)/p̂ = 1 − (trust·ΣPR)/(pr·ΣTR). Pages with high
    relative mass draw their rank from links the good core cannot see —
    the link-farm signature. Negative values (trust share above rank
    share) are kept as-is, exactly as in the paper.

    Determinism: inputs are the exact-integer :func:`pagerank` /
    :func:`trustrank` frames; the only float is ONE fixed IEEE chain per
    row — cast to double, two multiplies, one divide, 1−, ×1e6, floor —
    reproduced verbatim by the oracle, so the micros are engine- and
    parallelism-exact. Scale: one (doc_id)-keyed equi-join of two
    node-sized frames plus two single-row aggregates crossJoined lazily
    (the reciprocity_stats pattern) — no collect, no extra edge-sized
    work beyond the two rank computations themselves.
    """
    p_tot = pr.agg(F.sum("pr").cast("long").alias("p_tot"))
    t_tot = trust.agg(F.sum("trust").cast("long").alias("t_tot"))
    rel = F.floor(
        F.lit(1e6)
        * (
            F.lit(1.0)
            - (F.col("trust").cast("double") * F.col("p_tot").cast("double"))
            / (F.col("pr").cast("double") * F.col("t_tot").cast("double"))
        )
    ).cast("long")
    return (
        pr.join(trust, "doc_id")
        .crossJoin(p_tot)
        .crossJoin(t_tot)
        .select(
            "doc_id",
            "pr",
            "trust",
            rel.alias("rel_mass_micros"),
            (rel >= F.lit(int(threshold_micros))).alias("spam_suspect"),
        )
    )


def label_propagation(
    nodes: DataFrame, edges: DataFrame, *, iterations: int = 5
) -> DataFrame:
    """(doc_id, community): synchronous label propagation (Raghavan,
    Albert & Kumara 2007) over the symmetrized link graph — the cheap
    community detector that finds DENSE groups (topic clusters, link
    farms, mirror networks), complementing :func:`connected_components`'
    reachability-only partition. Labels start at own id; each round every
    node adopts the most frequent label among its neighbours, ties broken
    by SMALLEST label, isolated nodes keeping their own. A fixed round
    count sidesteps sync-LPA's oscillation indeterminism: every
    intermediate round is a pure function of the graph — exact integer
    counts, total tie order — so the output is bitwise identical on any
    engine and any parallelism.

    Scale shape: per round one (dst)-keyed equi-join to pull neighbour
    labels, one (node, label)-keyed partial-agg count, one (node)-keyed
    struct-max argmax (both combiner-friendly; hot in-degree skews the
    join INPUT, not the reduced exchange), and a node-sized left join for
    the isolated fallback. The label frame is referenced twice per round
    (neighbour pull + fallback), hence the same eager localCheckpoint
    plan-doubling guard as :func:`hits` / :func:`connected_components`.
    """
    nd = nodes.select(F.col(nodes.columns[0]).cast("long").alias("doc_id"))
    e = edges.select("src", "dst").where(F.col("src") != F.col("dst")).distinct()
    sym = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct().persist()

    lab = nd.select("doc_id", F.col("doc_id").alias("lab")).localCheckpoint(eager=True)
    for _ in range(iterations):
        cnt = (
            sym.join(lab.withColumnRenamed("doc_id", "src"), "src")
            .groupBy(F.col("dst").alias("doc_id"), "lab")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        # argmax: largest count, then smallest label (struct max on
        # (cnt, -lab) — exact int64, no window over skewed partitions)
        best = (
            cnt.groupBy("doc_id")
            .agg(F.max(F.struct(F.col("cnt"), (-F.col("lab")).alias("nl"))).alias("m"))
            .select("doc_id", (-F.col("m.nl")).alias("bl"))
        )
        lab = (
            lab.join(best, "doc_id", "left")
            .select("doc_id", F.coalesce("bl", "lab").alias("lab"))
            .localCheckpoint(eager=True)
        )
    return lab.select("doc_id", F.col("lab").alias("community"))


def k_core(
    nodes: DataFrame, edges: DataFrame, *, k: int = 2, rounds: int = 8
) -> DataFrame:
    """(doc_id, core_degree): nodes surviving `rounds` peels of the
    k-core decomposition (Seidman 1983) of the symmetrized link graph,
    with their degree in the induced survivor subgraph — the density
    primitive behind link-farm and tightly-knit-community detection
    (spam cores are high-k; legitimate long-tail pages shed at k=2-3).

    Each peel drops every node whose degree among CURRENT survivors is
    < k (isolated nodes drop immediately for k ≥ 1); the fixpoint is
    the classic k-core, and a fixed `rounds` count keeps the
    pre-convergence answer a pure function of (graph, k, rounds) —
    exact int64 degree counts only, so bitwise identical on any engine
    and any parallelism, same as :func:`connected_components`.

    Scale shape: per peel two survivor semi-joins on the persisted
    symmetric edge list (src then dst) and one (node)-keyed
    partial-agg count — the exchange is node-sized even when the edge
    list is not; hot in-degree skews map input, not the reduce. The
    survivor frame feeds both semi-joins, hence the per-round eager
    localCheckpoint plan-doubling guard shared by the other iterative
    graph ops here."""
    nd = nodes.select(F.col(nodes.columns[0]).cast("long").alias("doc_id"))
    e = edges.select("src", "dst").where(F.col("src") != F.col("dst")).distinct()
    sym = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct().persist()

    alive = nd.localCheckpoint(eager=True)
    for _ in range(rounds):
        deg = (
            sym.join(alive.withColumnRenamed("doc_id", "src"), "src")
            .join(alive.withColumnRenamed("doc_id", "dst"), "dst")
            .groupBy(F.col("src").alias("doc_id"))
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        alive = (
            deg.where(F.col("deg") >= F.lit(int(k)))
            .select("doc_id")
            .localCheckpoint(eager=True)
        )
    final_deg = (
        sym.join(alive.withColumnRenamed("doc_id", "src"), "src")
        .join(alive.withColumnRenamed("doc_id", "dst"), "dst")
        .groupBy(F.col("src").alias("doc_id"))
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    return alive.join(final_deg, "doc_id", "left").select(
        "doc_id", F.coalesce("deg", F.lit(0)).cast("long").alias("core_degree")
    )


def assortativity(edges: DataFrame) -> DataFrame:
    """One row (m_edges, s_j, s_jk, s_jj, assortativity_micros):
    Newman's degree assortativity coefficient (Newman PRL 2002) of the
    symmetrized link graph — the one-number mixing diagnostic (web
    graphs run disassortative, r < 0: hubs link to leaves; r near +1
    flags copy-farms of interlinked equal-degree pages).

    Over the directed symmetric edge list (each undirected edge twice,
    so the endpoint sums are automatically symmetric), with j = deg(src)
    and q = deg(dst): r = (M·Σjq − (Σj)²) / (M·Σj² − (Σj)²). The three
    sums and M are exact int64 (note: at 10^12 edges with 10^6-degree
    hubs Σj² approaches int64 range — the sums are emitted alongside
    precisely so a caller can audit headroom), and r is produced by ONE
    fixed IEEE double chain floor(1e6·num/den), identical on any
    engine. Scale shape: one (node)-keyed degree partial-agg, two
    broadcast-sized joins of degrees onto edges, one global agg."""
    e = edges.select("src", "dst").where(F.col("src") != F.col("dst")).distinct()
    sym = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    deg = sym.groupBy(F.col("src").alias("n")).agg(F.count(F.lit(1)).alias("d"))
    joined = (
        sym.join(deg.select(F.col("n").alias("src"), F.col("d").alias("jd")), "src")
        .join(deg.select(F.col("n").alias("dst"), F.col("d").alias("qd")), "dst")
    )
    agg = joined.agg(
        F.count(F.lit(1)).alias("m_edges"),
        F.sum("jd").alias("s_j"),
        F.sum(F.col("jd") * F.col("qd")).alias("s_jk"),
        F.sum(F.col("jd") * F.col("jd")).alias("s_jj"),
    )
    num = F.col("m_edges") * F.col("s_jk") - F.col("s_j") * F.col("s_j")
    den = F.col("m_edges") * F.col("s_jj") - F.col("s_j") * F.col("s_j")
    return agg.select(
        "m_edges",
        "s_j",
        "s_jk",
        "s_jj",
        F.when(den == 0, F.lit(0))
        .otherwise(
            F.floor(
                F.lit(1000000.0) * (num.cast("double") / den.cast("double"))
            ).cast("long")
        )
        .alias("assortativity_micros"),
    )


def modularity(edges: DataFrame, assignment: DataFrame) -> DataFrame:
    """One row (m2_edges, sum_intra, sum_deg_sq, modularity_micros):
    Newman-Girvan modularity Q of a community partition over the
    symmetrized link graph — the standard quality score for
    :func:`label_propagation` / :func:`connected_components` output
    (Q ≳ 0.3 signals real community structure; ≈ 0 means the partition
    is no better than random).

    With m2 = |directed symmetric edges| (= 2m), intra_c = symmetric
    edges inside community c and deg_c = Σ member degrees:
    Q = (m2·Σ intra_c − Σ deg_c²) / m2², computed from three exact
    int64 sums and ONE fixed IEEE floor(1e6·num/den) chain — bitwise
    cross-engine; the sums ride along for overflow audit (Σdeg_c²
    nears int64 at 10^12-edge graphs with giant communities — shard
    such communities or scale degrees down first).

    Scale shape: one (node)-keyed degree agg; the assignment table
    joins onto both edge endpoints ((src)- then (dst)-keyed — the
    standard two-hop exchange); one community-keyed partial agg, one
    global agg."""
    asg = assignment.select(
        F.col(assignment.columns[0]).alias("n"),
        F.col(assignment.columns[1]).alias("c"),
    )
    e = edges.select("src", "dst").where(F.col("src") != F.col("dst")).distinct()
    sym = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct().persist()
    deg = sym.groupBy(F.col("src").alias("n")).agg(F.count(F.lit(1)).alias("d"))
    both = (
        sym.join(asg.select(F.col("n").alias("src"), F.col("c").alias("cs")), "src")
        .join(asg.select(F.col("n").alias("dst"), F.col("c").alias("cd")), "dst")
    )
    m2 = sym.count()
    intra = (
        both.where(F.col("cs") == F.col("cd"))
        .groupBy("cs")
        .agg(F.count(F.lit(1)).alias("ic"))
    )
    degc = (
        deg.join(asg, "n")
        .groupBy("c")
        .agg(F.sum("d").alias("dc"))
        .select((F.col("dc") * F.col("dc")).alias("dc2"))
    )
    sums = intra.agg(F.sum("ic").cast("long").alias("sum_intra")).crossJoin(
        degc.agg(F.sum("dc2").cast("long").alias("sum_deg_sq"))
    )
    si = F.coalesce(F.col("sum_intra"), F.lit(0)).cast("long")
    sd = F.coalesce(F.col("sum_deg_sq"), F.lit(0)).cast("long")
    num = F.lit(int(m2)) * si - sd
    den = float(m2) * float(m2)
    return sums.select(
        F.lit(int(m2)).cast("long").alias("m2_edges"),
        si.alias("sum_intra"),
        sd.alias("sum_deg_sq"),
        (
            F.floor(F.lit(1000000.0) * num.cast("double") / F.lit(den)).cast("long")
            if m2 > 0
            else F.lit(0).cast("long")
        ).alias("modularity_micros"),
    )


def recrawl_priority(
    ranks: DataFrame,
    doc_ts: DataFrame,
    *,
    now_ts: str,
    age_cap_s: int = 86400 * 30,
    top_k: int | None = None,
) -> DataFrame:
    """(doc_id, pr, age_s, priority, prio_rank): crawl scheduling —
    refresh value = page importance × staleness (the Cho &
    Garcia-Molina VLDB'00 refresh-policy family, with :func:`pagerank`
    as the importance prior): priority = pr · min(age_s, cap), all
    exact int64 (pr is already integer fixed point; age is a timestamp
    difference in whole seconds against the caller-supplied `now_ts`
    literal — passed in, never read from a clock, so runs reproduce).
    The cap stops ancient-but-worthless pages from starving the queue;
    rank ties break (priority DESC, doc_id ASC).

    Scale shape: one doc-keyed equi-join (ranks ⋈ timestamps — both
    node-sized) and, when `top_k` is set, one global rank window over
    the already-reduced frame; the frontier consumer usually takes the
    whole ordered table instead."""
    j = ranks.join(doc_ts, "doc_id")
    age = F.expr(f"CAST(timestampdiff(SECOND, ts, timestamp'{now_ts}') AS BIGINT)")
    scored = j.select(
        "doc_id",
        F.col("pr").cast("long").alias("pr"),
        age.alias("age_s"),
        (
            F.col("pr").cast("long")
            * F.least(age, F.lit(int(age_cap_s)).cast("bigint"))
        ).alias("priority"),
    )
    w = Window.orderBy(F.col("priority").desc(), F.col("doc_id").asc())
    out = scored.withColumn("prio_rank", F.row_number().over(w).cast("long"))
    if top_k is not None:
        out = out.where(F.col("prio_rank") <= F.lit(int(top_k)))
    return out


def host_graph(
    links: DataFrame,
    hosts: DataFrame,
    *,
    id_col: str = "doc_id",
    host_col: str = "host",
    keep_self: bool = False,
) -> DataFrame:
    """(src_host, dst_host, n_links, n_src_pages): the page link graph
    aggregated to host level — the graph host-level PageRank/TrustRank
    and spam-mass actually run on at web scale (Castillo et al.'s spam
    pipelines and Common Crawl's published host-level graphs both work
    at this granularity; 10^12 pages collapse to 10^8 hosts, two
    orders less state per iteration).

    n_links counts page-level edges between the host pair (a weight
    for weighted walks); n_src_pages counts distinct linking source
    pages (the "how many pages vouch" version that resists a single
    page stuffing links). Intra-host edges drop unless keep_self
    (host-level self-votes are the classic nepotism artifact).

    Scale shape: two doc-keyed equi-joins attach hosts to the edge
    endpoints (the host map broadcasts when it fits, shuffles
    otherwise), then ONE (src_host, dst_host)-keyed partial agg; hot
    host pairs combine map-side."""
    h = hosts.select(F.col(id_col).cast("long").alias(id_col), F.col(host_col))
    e = links.select(F.col("src").cast("long").alias("src"), F.col("dst").cast("long").alias("dst"))
    joined = (
        e.join(h.select(F.col(id_col).alias("src"), F.col(host_col).alias("src_host")), "src")
        .join(h.select(F.col(id_col).alias("dst"), F.col(host_col).alias("dst_host")), "dst")
    )
    if not keep_self:
        joined = joined.where(F.col("src_host") != F.col("dst_host"))
    return joined.groupBy("src_host", "dst_host").agg(
        F.count(F.lit(1)).cast("long").alias("n_links"),
        F.count_distinct("src").cast("long").alias("n_src_pages"),
    )


def pagerank_weighted(
    nodes: DataFrame,
    edges: DataFrame,
    *,
    node_col: str = "node",
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "weight",
    iterations: int = 10,
    scale: int = PR_SCALE,
    damp_num: int = PR_DAMP_NUM,
    damp_den: int = PR_DAMP_DEN,
    checkpoint_every: int | None = None,
) -> DataFrame:
    """(node, pr): WEIGHTED damped PageRank — per-edge contribution
    proportional to edge weight, c(u→v) = (r(u) · w_uv) div W_u with
    W_u = Σ_out w — in the same exact-integer recipe as :func:`pagerank`
    (which is the w≡1 special case). Node keys are generic (strings
    welcome: host graphs are the intended consumer — run it on
    :func:`host_graph`'s n_links or n_src_pages weight).

    Overflow bound: r·w must fit int64, i.e. max edge weight ≲
    2⁶³/(scale·damp-amplification). At the default scale=10¹² weights
    up to ~10⁶ are safe; for heavier host-pair weights pass a smaller
    scale (10⁹ leaves 6 more orders) — the ranking is scale-invariant
    up to the integer floor.

    Scale shape: identical to pagerank — per iteration one src-keyed
    join and one dst-keyed partial-agg shuffle; in-degree skew absorbs
    map-side because contributions were already divided down.

    Dangling nodes (no out-edges, absent from W_u) leak their rank mass
    each iteration exactly as in :func:`pagerank` — totals are not
    conserved. Host graphs make this common (sink hosts with no
    out-links). Same remedies: add self-loop edges for sinks before
    calling, or renormalize afterwards; rank ORDER is unaffected for
    typical damping (ADVICE r2: restated from pagerank's caveat)."""
    base = (damp_den - damp_num) * scale // damp_den
    nd = nodes.select(F.col(node_col).alias("node")).distinct()
    e = edges.select(
        F.col(src_col).alias("src"),
        F.col(dst_col).alias("dst"),
        F.col(weight_col).cast("long").alias("w"),
    )
    wout = e.groupBy("src").agg(F.sum("w").alias("wtot"))
    e = e.join(wout, "src").persist()
    ranks = nd.select("node", F.lit(int(scale)).cast("long").alias("r"))
    for i in range(iterations):
        contrib = e.join(
            ranks.withColumnRenamed("node", "src"), "src"
        ).select(F.col("dst").alias("node"), F.expr("(r * w) div wtot").alias("c"))
        mass = contrib.groupBy("node").agg(F.sum("c").alias("m"))
        ranks = nd.join(mass, "node", "left").select(
            "node",
            (
                F.lit(int(base))
                + F.expr(f"({damp_num} * coalesce(m, cast(0 as long))) div {damp_den}")
            ).cast("long").alias("r"),
        )
        if checkpoint_every and (i + 1) % checkpoint_every == 0:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks.select("node", F.col("r").alias("pr"))
