"""Link-graph operators: outlink extraction, href resolution, degrees,
PageRank (the crawl-ranking signal Common Crawl publishes for its host
graph; Page et al. 1999).

Outlinks come out of the engine's own forgiving DOM (every ``<a href>``
with anchor text and the ``rel="nofollow"`` flag), so broken markup
yields the same edges a browser would see. Resolution and the graph
math stay JVM-side.

Scale shape: edge extraction is map-side per page; degree counts are
partial-aggregated ``groupBy``s; PageRank is the standard iterative
join — contributions shuffle by dst once per iteration, ranks stay
(id, pr) rows only, and lineage is cut with a lazy ``localCheckpoint``
per iteration exactly like dedup.connected_components. Intermediate
ranks round to 12 dp each iteration so independent engines (and
re-runs on different partitionings) stay bit-identical: the rounding
grid absorbs double-sum order differences, which are ~1e-18 against a
1e-12 grid. Dangling-node mass is NOT redistributed (ranks sum to <1
when sinks exist) — the convention Common Crawl's published host
ranks use; callers wanting the stochastic-matrix variant can add the
dangling term per iteration.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import (
    BooleanType, StringType, StructField, StructType, TimestampType,
)

from .dom import N_ATTR_NAMES, N_ATTR_VALUES
from .kernel import _page_kernel

__all__ = ["extract_outlinks", "resolve_href", "link_degrees", "pagerank",
           "trustrank", "hits", "salsa", "anchor_text_index", "host_graph",
           "label_propagation", "link_reciprocity", "k_core",
           "degree_assortativity",
           "harmonic_centrality", "hyperball_harmonic", "hyperball_alpha"]


def _outlink_rows(raw, parsed):
    """(href, anchor, nofollow) per ``<a href>`` of one page."""
    b = parsed[0].dom
    for a in b.query_selector_all(0, "a"):
        nd = b.nodes[a]
        href = rel = None
        for an, av in zip(nd[N_ATTR_NAMES], nd[N_ATTR_VALUES]):
            al = an.lower()
            if al == "href" and href is None:
                href = av or ""
            elif al == "rel" and rel is None:
                rel = av or ""
        if href is None:
            continue
        yield (href, b.text_content(a),
               "nofollow" in (rel or "").lower().split())


def extract_outlinks(pages: DataFrame) -> DataFrame:
    """One row per ``<a href>``: (url, href, anchor, nofollow). When
    the input carries ``warc_ts`` it rides along per link row — the
    streaming frontier needs the event time to survive the kernel so
    the candidate dedup can watermark on it."""
    fields = [StructField("url", StringType()),
              StructField("href", StringType()),
              StructField("anchor", StringType()),
              StructField("nofollow", BooleanType())]
    cols = ["url", "html"]
    if "warc_ts" in pages.columns:
        fields.append(StructField("warc_ts", TimestampType()))
        cols.append("warc_ts")
    schema = StructType(fields)
    return (pages.select(*cols)
            .mapInPandas(_page_kernel(schema, _outlink_rows), schema))


def resolve_href(src_url: Column, href: Column) -> Column:
    """Resolve an extracted href against its source url (JVM-only):
    absolute http(s) kept; ``//host/...`` takes the source scheme;
    ``/rooted`` takes the source origin; other relative paths resolve
    against the source's parent directory (no ``..`` folding — crawl
    frontiers treat those as distinct keys anyway); fragments are
    dropped; javascript:/mailto:/tel:/data: yield NULL."""
    h = F.trim(href)
    h = F.regexp_replace(h, "#.*$", "")  # fragment never reaches the server
    scheme = F.lower(F.try_parse_url(src_url, F.lit("PROTOCOL")))
    host = F.try_parse_url(src_url, F.lit("HOST"))
    origin = F.concat(scheme, F.lit("://"), host)
    path = F.coalesce(F.try_parse_url(src_url, F.lit("PATH")), F.lit("/"))
    parent = F.regexp_replace(path, "[^/]*$", "")  # up to last '/'
    lower = F.lower(h)
    return (F.when(h == "", F.lit(None))
            .when(lower.rlike("^(javascript|mailto|tel|data):"), F.lit(None))
            .when(lower.rlike("^https?://"), h)
            .when(h.startswith("//"), F.concat(scheme, F.lit(":"), h))
            .when(h.startswith("/"), F.concat(origin, h))
            .otherwise(F.concat(origin, parent, h)))


def link_degrees(edges: DataFrame, nodes: DataFrame,
                 src_col: str = "src", dst_col: str = "dst") -> DataFrame:
    """(id, out_deg, in_deg) over distinct edges; zero for isolated
    nodes. Two partial-agg groupBys + broadcast-friendly joins back."""
    e = edges.select(src_col, dst_col).distinct()
    out_d = e.groupBy(F.col(src_col).alias("id")) \
        .agg(F.count("*").alias("out_deg"))
    in_d = e.groupBy(F.col(dst_col).alias("id")) \
        .agg(F.count("*").alias("in_deg"))
    return (nodes.join(out_d, "id", "left").join(in_d, "id", "left")
            .select("id",
                    F.coalesce("out_deg", F.lit(0)).alias("out_deg"),
                    F.coalesce("in_deg", F.lit(0)).alias("in_deg")))


def pagerank(edges: DataFrame, nodes: DataFrame, *, num_iters: int = 3,
             damping: float = 0.85, src_col: str = "src",
             dst_col: str = "dst", weight_col: str | None = None,
             checkpoint: bool = True) -> DataFrame:
    """(id, pr) after ``num_iters`` power iterations from the uniform
    start. ``nodes`` must be an (id) frame covering every vertex (docs
    with no in-links still get the teleport term). With ``weight_col``
    the walk follows edge weights (contribution = pr * w / sum_out_w —
    the host-graph form; weights must be positive). See module
    docstring for the determinism (12 dp/iteration) and dangling
    conventions."""
    if weight_col is None:
        e = edges.select(F.col(src_col).alias("src"),
                         F.col(dst_col).alias("dst"),
                         F.lit(1.0).alias("w")).distinct()
    else:
        e = edges.select(F.col(src_col).alias("src"),
                         F.col(dst_col).alias("dst"),
                         F.col(weight_col).cast("double").alias("w"))
    n = nodes.count()
    if n == 0:
        return nodes.select("id", F.lit(None).cast("double").alias("pr"))
    outdeg = e.groupBy("src").agg(F.sum("w").alias("outdeg"))
    ranks = nodes.select("id", F.lit(1.0 / n).alias("pr"))
    base = (1.0 - damping) / n
    for _ in range(num_iters):
        contribs = (e.join(ranks, e["src"] == ranks["id"])
                    .join(outdeg, "src")
                    .select(F.col("dst").alias("id"),
                            (F.col("pr") * F.col("w")
                             / F.col("outdeg")).alias("c")))
        inflow = contribs.groupBy("id").agg(F.sum("c").alias("s"))
        ranks = (nodes.join(inflow, "id", "left")
                 .select("id",
                         F.round(F.lit(base) + F.lit(damping)
                                 * F.coalesce("s", F.lit(0.0)), 12)
                         .alias("pr")))
        if checkpoint:
            # cut lineage each sweep (dedup.connected_components shape);
            # checkpoint=False keeps the full plan visible for audits
            ranks = ranks.localCheckpoint(eager=False)
    return ranks


def trustrank(edges: DataFrame, nodes: DataFrame, seeds: DataFrame, *,
              num_iters: int = 3, damping: float = 0.85,
              src_col: str = "src", dst_col: str = "dst",
              weight_col: str | None = None,
              checkpoint: bool = True) -> DataFrame:
    """(id, trust) — TrustRank (Gyongyi, Garcia-Molina & Pedersen,
    VLDB 2004): PageRank with the teleport vector CONCENTRATED on a
    hand-vetted good-seed set instead of uniform, so trust attenuates
    with link distance from the seeds and link-farm spam (well-linked
    among itself but far from any trusted page) scores near zero.

    ``seeds`` is an (id) frame; seeds not present in ``nodes`` are
    ignored. Iteration t' = round((1-d)*s + d * W^T t, 12) from t0 = s
    where s is uniform over the (retained) seeds — the paper's t* with
    its normalized static score distribution. Same conventions as
    :func:`pagerank`: dangling mass is not redistributed, 12-dp
    per-iteration rounding grid for bit-stable replay, lineage cut per
    sweep. Scale shape mirrors pagerank exactly — one contribs shuffle
    by dst per iteration — plus a broadcast-sized seed join up front
    (real seed sets are a few hundred hosts)."""
    if weight_col is None:
        e = edges.select(F.col(src_col).alias("src"),
                         F.col(dst_col).alias("dst"),
                         F.lit(1.0).alias("w")).distinct()
    else:
        e = edges.select(F.col(src_col).alias("src"),
                         F.col(dst_col).alias("dst"),
                         F.col(weight_col).cast("double").alias("w"))
    seed_ids = nodes.join(seeds.select("id").distinct(), "id").select("id")
    n_seeds = seed_ids.count()  # driver-side planning scalar
    if n_seeds == 0:
        return nodes.select("id", F.lit(0.0).alias("trust"))
    teleport = (nodes.join(
        F.broadcast(seed_ids.withColumn("_seed", F.lit(True))),
        "id", "left")
        .select("id",
                F.when(F.col("_seed"), F.lit(1.0 / n_seeds))
                .otherwise(F.lit(0.0)).alias("tele")))
    if checkpoint:
        # the teleport frame re-enters every sweep — pin it once
        teleport = teleport.localCheckpoint(eager=False)
    outdeg = e.groupBy("src").agg(F.sum("w").alias("outdeg"))
    trust = teleport.select("id", F.col("tele").alias("trust"))
    for _ in range(num_iters):
        contribs = (e.join(trust, e["src"] == trust["id"])
                    .join(outdeg, "src")
                    .select(F.col("dst").alias("id"),
                            (F.col("trust") * F.col("w")
                             / F.col("outdeg")).alias("c")))
        inflow = contribs.groupBy("id").agg(F.sum("c").alias("s"))
        trust = (teleport.join(inflow, "id", "left")
                 .select("id",
                         F.round((1.0 - damping) * F.col("tele")
                                 + F.lit(damping)
                                 * F.coalesce("s", F.lit(0.0)), 12)
                         .alias("trust")))
        if checkpoint:
            trust = trust.localCheckpoint(eager=False)
    return trust


def hits(edges: DataFrame, nodes: DataFrame, *, num_iters: int = 3,
         src_col: str = "src", dst_col: str = "dst",
         weight_col: str | None = None,
         checkpoint: bool = True) -> DataFrame:
    """(id, hub, authority) — Kleinberg's HITS (JACM 1999), the
    hubs-and-authorities ranking next to PageRank/TrustRank: a page is
    a good AUTHORITY if good hubs link to it and a good HUB if it
    links to good authorities. Mutual reinforcement, ``num_iters``
    sweeps.

    Per sweep: auth'(v) = sum over in-edges of hub(u)*w, then hub'(u)
    = sum over out-edges of auth'(v)*w, each L1-normalized (sum-to-1 —
    chosen over Kleinberg's L2 so the oracle replay needs no sqrt) and
    rounded to 12 dp, the same determinism grid as pagerank: per-node
    inflow sums drift ~1e-18 across partitionings, far under the
    grid. The normalizing total is a broadcast scalar (crossJoin of a
    1-row agg). Graphs with no edges yield all-zero scores. Same
    scale shape as pagerank: one shuffle per half-sweep over
    (id, score) rows, lineage cut per sweep."""
    if weight_col is None:
        e = edges.select(F.col(src_col).alias("src"),
                         F.col(dst_col).alias("dst"),
                         F.lit(1.0).alias("w")).distinct()
    else:
        e = edges.select(F.col(src_col).alias("src"),
                         F.col(dst_col).alias("dst"),
                         F.col(weight_col).cast("double").alias("w"))

    def _norm(scores: DataFrame, col: str) -> DataFrame:
        total = scores.agg(F.sum(col).alias("_tot"))
        return (scores.crossJoin(F.broadcast(total))
                .select("id",
                        F.round(F.when(F.col("_tot") != 0,
                                       F.col(col) / F.col("_tot"))
                                .otherwise(0.0), 12).alias(col)))

    hub = nodes.select("id", F.lit(1.0).alias("hub"))
    auth = nodes.select("id", F.lit(0.0).alias("authority"))
    for _ in range(num_iters):
        a_in = (e.join(hub, e["src"] == hub["id"])
                .groupBy(F.col("dst").alias("id"))
                .agg(F.sum(F.col("hub") * F.col("w")).alias("authority")))
        auth = _norm(nodes.join(a_in, "id", "left")
                     .select("id", F.coalesce("authority", F.lit(0.0))
                             .alias("authority")), "authority")
        h_in = (e.join(auth, e["dst"] == auth["id"])
                .groupBy(F.col("src").alias("id"))
                .agg(F.sum(F.col("authority") * F.col("w")).alias("hub")))
        hub = _norm(nodes.join(h_in, "id", "left")
                    .select("id", F.coalesce("hub", F.lit(0.0))
                            .alias("hub")), "hub")
        if checkpoint:
            # one cut per sweep: hub carries into the next sweep; auth's
            # lineage is one join+agg above the checkpointed hub, cheap
            # to re-derive and not worth a second materialization
            hub = hub.localCheckpoint(eager=False)
    return hub.join(auth, "id").select("id", "hub", "authority")


def salsa(edges: DataFrame, nodes: DataFrame, *, num_iters: int = 3,
          src_col: str = "src", dst_col: str = "dst",
          weight_col: str | None = None,
          checkpoint: bool = True) -> DataFrame:
    """(id, hub, authority) — SALSA (Lempel & Moran, WWW9 2000): the
    stochastic sibling of HITS where every reinforcement step walks
    the bipartite hub/authority graph with DEGREE-NORMALIZED
    transitions, which is exactly what removes HITS' TKC
    vulnerability — a densely self-linked spam farm can dominate raw
    HITS mutual reinforcement but gains nothing here, because each
    node distributes ONE unit of mass over its links instead of
    broadcasting its full score along every edge:

        auth'(v) = sum over in-edges  (u,v): hub(u)  * w(u,v)/outw(u)
        hub'(u)  = sum over out-edges (u,v): auth'(v) * w(u,v)/inw(v)

    (outw/inw = weighted out-/in-degree). The stationary authority
    mass within a connected support component is proportional to
    weighted in-degree — this power iteration keeps the engine shape
    identical to :func:`hits` (one shuffle per half-sweep over
    (id, score) rows, broadcast L1 totals, 12-dp determinism grid,
    lineage cut per sweep) and converges to that fixpoint, so ranks
    are comparable run-to-run and replayable by the oracle's unrolled
    CTEs. Edge normalizers attach ONCE up front (two joins), not per
    sweep."""
    if weight_col is None:
        e = edges.select(F.col(src_col).alias("src"),
                         F.col(dst_col).alias("dst"),
                         F.lit(1.0).alias("w")).distinct()
    else:
        e = edges.select(F.col(src_col).alias("src"),
                         F.col(dst_col).alias("dst"),
                         F.col(weight_col).cast("double").alias("w"))
    outw = e.groupBy(F.col("src").alias("_s")) \
        .agg(F.sum("w").alias("ow"))
    inw = e.groupBy(F.col("dst").alias("_t")) \
        .agg(F.sum("w").alias("iw"))
    ew = (e.join(outw, e["src"] == outw["_s"])
          .join(inw, e["dst"] == inw["_t"])
          .select("src", "dst", "w", "ow", "iw"))
    if checkpoint:
        ew = ew.localCheckpoint(eager=False)

    def _norm(scores: DataFrame, col: str) -> DataFrame:
        total = scores.agg(F.sum(col).alias("_tot"))
        return (scores.crossJoin(F.broadcast(total))
                .select("id",
                        F.round(F.when(F.col("_tot") != 0,
                                       F.col(col) / F.col("_tot"))
                                .otherwise(0.0), 12).alias(col)))

    hub = nodes.select("id", F.lit(1.0).alias("hub"))
    auth = nodes.select("id", F.lit(0.0).alias("authority"))
    for _ in range(num_iters):
        a_in = (ew.join(hub, ew["src"] == hub["id"])
                .groupBy(F.col("dst").alias("id"))
                .agg(F.sum(F.col("hub") * (F.col("w") / F.col("ow")))
                     .alias("authority")))
        auth = _norm(nodes.join(a_in, "id", "left")
                     .select("id", F.coalesce("authority", F.lit(0.0))
                             .alias("authority")), "authority")
        h_in = (ew.join(auth, ew["dst"] == auth["id"])
                .groupBy(F.col("src").alias("id"))
                .agg(F.sum(F.col("authority")
                           * (F.col("w") / F.col("iw"))).alias("hub")))
        hub = _norm(nodes.join(h_in, "id", "left")
                    .select("id", F.coalesce("hub", F.lit(0.0))
                            .alias("hub")), "hub")
        if checkpoint:
            hub = hub.localCheckpoint(eager=False)
    return hub.join(auth, "id").select("id", "hub", "authority")


def anchor_text_index(links: DataFrame, top_k: int = 3) -> DataFrame:
    """Top-k anchor texts per resolved link target — the classic
    off-page relevance signal (target, anchor_text, n, rank).

    Shape: resolve + normalize map-side, ONE partial-agg groupBy
    (target, anchor), then a row_number window against the LITERAL
    ``top_k`` so Spark's WindowGroupLimit pushdown prunes per-target
    groups before the final sort — the same pre-prune the stratified
    sampler relies on. Ties break on anchor text for determinism.
    Unresolvable hrefs (javascript:, fragments) drop with the resolve
    NULL."""
    resolved = (links
                .withColumn("target",
                            resolve_href(F.col("url"), F.col("href")))
                .filter(F.col("target").isNotNull()))
    counts = (resolved
              .groupBy("target",
                       F.lower(F.trim("anchor")).alias("anchor_text"))
              .agg(F.count("*").alias("n")))
    from pyspark.sql import Window
    w = Window.partitionBy("target").orderBy(F.col("n").desc(),
                                             "anchor_text")
    return (counts.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= top_k))


def link_reciprocity(edges: DataFrame, nodes: DataFrame,
                     src_col: str = "src", dst_col: str = "dst") -> DataFrame:
    """(id, out_deg, in_deg, n_reciprocal, reciprocity) — per-node
    mutual-link statistics over the DISTINCT edge set: n_reciprocal
    counts out-edges whose reverse edge also exists, reciprocity =
    n_reciprocal / out_deg (NULL for sinks). High reciprocity across a
    host's neighborhood is the classic link-exchange/link-farm tell the
    TrustRank seed auditors look for; organic editorial linking is
    mostly one-way.

    Shape: dedup the edge list once, self-join it on the REVERSED key —
    an equi-join on (src=dst, dst=src), never nested-loop — then three
    partial-agg groupBys joined back over the node frame. Everything
    shuffles by node id; no adjacency list is ever materialized."""
    e = edges.select(F.col(src_col).alias("src"),
                     F.col(dst_col).alias("dst")).distinct() \
        .filter(F.col("src") != F.col("dst"))
    rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    recip = (e.join(rev, ["src", "dst"], "left_semi")
             .groupBy(F.col("src").alias("id"))
             .agg(F.count("*").alias("n_reciprocal")))
    out_d = e.groupBy(F.col("src").alias("id")) \
        .agg(F.count("*").alias("out_deg"))
    in_d = e.groupBy(F.col("dst").alias("id")) \
        .agg(F.count("*").alias("in_deg"))
    return (nodes.join(out_d, "id", "left").join(in_d, "id", "left")
            .join(recip, "id", "left")
            .select("id",
                    F.coalesce("out_deg", F.lit(0)).alias("out_deg"),
                    F.coalesce("in_deg", F.lit(0)).alias("in_deg"),
                    F.coalesce("n_reciprocal", F.lit(0))
                    .alias("n_reciprocal"),
                    F.when(F.coalesce(F.col("out_deg"), F.lit(0)) > 0,
                           F.round(F.coalesce(F.col("n_reciprocal"),
                                              F.lit(0))
                                   / F.col("out_deg"), 6))
                    .alias("reciprocity")))


def degree_assortativity(edges: DataFrame, src_col: str = "src",
                         dst_col: str = "dst") -> DataFrame:
    """One-row degree-assortativity summary over the distinct directed
    edge set: Pearson correlation of (out-degree of source, in-degree
    of target) across edges — positive on social-style graphs (hubs
    link hubs), negative on the web's hub-and-spoke structure; a shift
    toward 0/positive in a crawl snapshot is a link-farm smell (farms
    wire mid-degree nodes to each other). Returns (n_edges, r).

    Every AGGREGATE is an exact integer sum (degrees are counts, and
    integer sums are order-free), so the only float math is the ONE
    final fixed-shape expression — its operands cast to double first
    (n*sxy-style integer products would overflow 2^63 on a 10^10-edge
    graph and ANSI mode throws) — which is bit-identical across
    engines and partitionings with no rounding grid beyond the output
    9 dp. NULL r when a variance is zero (regular graphs). Shape: two
    partial-agg degree counts, two joins back onto the edge list, one
    scalar agg."""
    e = edges.select(F.col(src_col).alias("src"),
                     F.col(dst_col).alias("dst")).distinct() \
        .filter(F.col("src") != F.col("dst"))
    out_d = e.groupBy(F.col("src").alias("_s")) \
        .agg(F.count("*").alias("x"))
    in_d = e.groupBy(F.col("dst").alias("_t")) \
        .agg(F.count("*").alias("y"))
    j = (e.join(out_d, e["src"] == out_d["_s"])
         .join(in_d, e["dst"] == in_d["_t"]))
    s = j.agg(F.count("*").alias("n"),
              F.sum("x").alias("sx"), F.sum("y").alias("sy"),
              F.sum(F.col("x") * F.col("y")).alias("sxy"),
              F.sum(F.col("x") * F.col("x")).alias("sxx"),
              F.sum(F.col("y") * F.col("y")).alias("syy"))
    n = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    num = n * sxy - sx * sy
    vx = n * sxx - sx * sx
    vy = n * syy - sy * sy
    return s.select(
        F.col("n").alias("n_edges"),
        F.when((vx > 0) & (vy > 0),
               F.round(num / F.sqrt(vx * vy), 9)).alias("r"))


def k_core(edges: DataFrame, nodes: DataFrame, k: int, *,
           src_col: str = "src", dst_col: str = "dst",
           max_rounds: int = 50, checkpoint: bool = True) -> DataFrame:
    """(id, in_core) — membership in the k-core of the UNDIRECTED
    distinct graph: the maximal subgraph where every node keeps degree
    >= k after everyone below is (repeatedly) peeled away. Web-graph
    use: the dense cores separate genuinely well-embedded hosts from
    pages whose degree comes from pendant link dust; spam farms often
    survive high k only among themselves, which makes core membership a
    cheap companion feature to TrustRank.

    Deterministic synchronous peeling: each round recomputes degrees
    within the surviving set and drops every node under k at once —
    the fixpoint is the k-core regardless of peel order (standard
    result), so two engines replay it exactly round by round. Rounds
    needed = longest peel cascade (short in practice); raises if
    ``max_rounds`` is hit before the fixpoint. Per round: ONE
    partial-agg degree count + a semi-join of edges against survivors;
    state is (id) rows only, lineage cut per round, convergence read
    from the same action that materializes the round."""
    e0 = edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b")) \
        .filter(F.col("a") != F.col("b"))
    und = (e0.unionByName(e0.select(F.col("b").alias("a"),
                                    F.col("a").alias("b")))
           .distinct())
    if checkpoint:
        und = und.localCheckpoint(eager=False)
    surv = nodes.select("id")
    n_prev = surv.count()
    for _ in range(max_rounds):
        alive = (und.join(surv.withColumnRenamed("id", "a"), "a", "left_semi")
                 .join(surv.withColumnRenamed("id", "b"), "b", "left_semi"))
        deg = alive.groupBy(F.col("a").alias("id")) \
            .agg(F.count("*").alias("_d"))
        surv = deg.filter(F.col("_d") >= k).select("id")
        if checkpoint:
            surv = surv.localCheckpoint(eager=False)
        n = surv.count()
        if n == n_prev:
            break
        n_prev = n
    else:
        raise RuntimeError(f"k_core did not converge in {max_rounds} rounds")
    return (nodes.join(surv.withColumn("_in", F.lit(True)), "id", "left")
            .select("id", F.coalesce(F.col("_in"), F.lit(False))
                    .alias("in_core")))


def label_propagation(edges: DataFrame, nodes: DataFrame, *,
                      num_iters: int = 3, src_col: str = "src",
                      dst_col: str = "dst",
                      weight_col: str | None = None,
                      checkpoint: bool = True) -> DataFrame:
    """(id, label) — synchronous weighted label propagation (Raghavan
    et al. 2007) for community detection: every node starts labeled
    with its own id; each sweep it adopts the label with the LARGEST
    summed edge weight among its neighbors (graph treated as
    undirected), ties broken by smallest label, isolated nodes keep
    their current label. Unlike the paper's randomized asynchronous
    scan, sweeps here are fully synchronous with a deterministic tie
    rule, so two engines (or two partitionings) produce bit-identical
    labels — the same replayability convention as :func:`pagerank`.

    Scale shape per sweep: ONE shuffle — votes partial-aggregate
    map-side on ``(node, neighbor_label)`` before the exchange, so a
    celebrity host's million same-label in-edges collapse early; the
    winner pick is a row_number window whose partition (one row per
    DISTINCT neighbor label of one node) is degree-bounded. Label
    state is (id, label) rows only; lineage is cut per sweep with a
    lazy localCheckpoint. Symmetrization doubles the edge list once
    up front and re-aggregates parallel edges."""
    from pyspark.sql import Window
    if weight_col is None:
        e0 = edges.select(F.col(src_col).alias("src"),
                          F.col(dst_col).alias("dst"),
                          F.lit(1.0).alias("w")).distinct()
    else:
        e0 = edges.select(F.col(src_col).alias("src"),
                          F.col(dst_col).alias("dst"),
                          F.col(weight_col).cast("double").alias("w"))
    und = (e0.filter(F.col("src") != F.col("dst"))
           .unionByName(e0.select(F.col("dst").alias("src"),
                                  F.col("src").alias("dst"), "w")
                        .filter(F.col("src") != F.col("dst")))
           .groupBy("src", "dst").agg(F.sum("w").alias("w")))
    if checkpoint:
        # the symmetrized edge frame re-enters every sweep — pin it
        und = und.localCheckpoint(eager=False)
    labels = nodes.select("id", F.col("id").alias("label"))
    w_win = Window.partitionBy("_node").orderBy(F.col("_wsum").desc(),
                                                F.col("label").asc())
    for _ in range(num_iters):
        votes = (und.join(labels, und["dst"] == labels["id"])
                 .groupBy(F.col("src").alias("_node"), "label")
                 .agg(F.sum("w").alias("_wsum")))
        winners = (votes.withColumn("_rn", F.row_number().over(w_win))
                   .filter(F.col("_rn") == 1)
                   .select(F.col("_node").alias("id"),
                           F.col("label").alias("_new")))
        labels = (nodes.join(winners, "id", "left")
                  .select("id", F.coalesce(F.col("_new"), F.col("id"))
                          .alias("label")))
        if checkpoint:
            labels = labels.localCheckpoint(eager=False)
    return labels


def host_graph(edges_urls: DataFrame, src_col: str = "src_url",
               dst_col: str = "dst_url",
               keep_intra: bool = False) -> DataFrame:
    """Collapse page-level url edges to the weighted host-level graph
    (src_host, dst_host, weight) — the granularity Common Crawl
    publishes its webgraph at. Intra-host edges drop by default (they
    dominate raw counts and carry no cross-site endorsement). One
    partial-agg groupBy; host extraction is map-side ``try_parse_url``
    (unparseable urls drop)."""
    sh = F.lower(F.try_parse_url(F.col(src_col), F.lit("HOST")))
    dh = F.lower(F.try_parse_url(F.col(dst_col), F.lit("HOST")))
    e = (edges_urls.select(sh.alias("src_host"), dh.alias("dst_host"))
         .filter(F.col("src_host").isNotNull()
                 & F.col("dst_host").isNotNull()))
    if not keep_intra:
        e = e.filter(F.col("src_host") != F.col("dst_host"))
    return e.groupBy("src_host", "dst_host") \
        .agg(F.count("*").alias("weight"))


def harmonic_centrality(edges: DataFrame, nodes: DataFrame, *,
                        radius: int = 3, src_col: str = "src",
                        dst_col: str = "dst",
                        checkpoint: bool = True) -> DataFrame:
    """Bounded-radius harmonic centrality — the OTHER ranking Common
    Crawl publishes for its host graph next to PageRank (Boldi &
    Vigna 2014, "Axioms for centrality"): H(v) = sum over u reaching v
    of 1/d(u, v), truncated at ``radius`` hops.

    Exact computation by multi-source frontier BFS: the frontier at
    round r is the set of (u, v) pairs whose SHORTEST distance is
    exactly r — expand along edges, anti-join everything already seen,
    repeat. State is (u, v, d) pairs only; lineage is cut per round
    like pagerank's. The float combine happens ONCE per node over
    exact integer per-distance counts (n1/1 + n2/2 + ...), evaluated
    left-to-right in a single expression, so results are bit-stable
    across partitionings and replayable by other engines with the same
    expression — no iterative float rounding grid needed.

    Scale note: exact pair state is sum over v of |B(v, radius)|,
    which is the honest cost of exactness — fine for host graphs
    (~1e8 nodes) at small radius, but hub neighborhoods grow
    geometrically; beyond that the published approach is HyperBall
    (HLL registers per node), trading exactness for O(nodes) state.
    Returns (id, reached, harmonic); isolated nodes get (0, 0.0).
    """
    e = (edges.select(F.col(src_col).alias("src"),
                      F.col(dst_col).alias("dst"))
         .filter(F.col("src") != F.col("dst")).distinct())
    frontier = e.select(F.col("src").alias("u"), F.col("dst").alias("v"),
                        F.lit(1).alias("d"))
    seen = frontier
    for r in range(2, radius + 1):
        nxt = (frontier.join(e, frontier["v"] == e["src"])
               .select("u", F.col("dst").alias("v"))
               .filter(F.col("u") != F.col("v"))
               .distinct()
               .join(seen.select("u", "v"), ["u", "v"], "left_anti")
               .withColumn("d", F.lit(r)))
        if checkpoint:
            nxt = nxt.localCheckpoint(eager=False)
        seen = seen.unionByName(nxt)
        frontier = nxt
    counts = (seen.groupBy(F.col("v").alias("id"))
              .agg(*[F.count(F.when(F.col("d") == r, True))
                     .alias(f"n{r}") for r in range(1, radius + 1)]))
    harmonic = F.col("n1").cast("double")
    reached = F.col("n1")
    for r in range(2, radius + 1):
        harmonic = harmonic + F.col(f"n{r}").cast("double") / float(r)
        reached = reached + F.col(f"n{r}")
    return (nodes.join(counts, "id", "left")
            .select("id",
                    F.coalesce(reached, F.lit(0)).alias("reached"),
                    F.round(F.coalesce(harmonic, F.lit(0.0)), 9)
                    .alias("harmonic")))


_HB_HASH_HEX = 15          # md5 prefix length -> 60-bit nonneg hash


def hyperball_alpha(m: int) -> float:
    """Standard HLL bias constant for m registers."""
    return {16: 0.673, 32: 0.697, 64: 0.709}.get(
        m, 0.7213 / (1 + 1.079 / m))


def hyperball_harmonic(edges: DataFrame, nodes: DataFrame, *,
                       radius: int = 3, log2m: int = 6,
                       src_col: str = "src", dst_col: str = "dst",
                       checkpoint: bool = True) -> DataFrame:
    """HyperBall approximate harmonic centrality (Boldi & Vigna 2013,
    "In-Core Computation of Geometric Centralities with HyperBall") —
    the 10^12-node scale path where `harmonic_centrality`'s exact
    (u, v) pair state is unaffordable: per-node HyperLogLog counters
    estimate |B_in(v, r)| and H(v) ~= sum_r (|B_r| - |B_{r-1}|) / r.

    Spark shape: counters are SPARSE rows (v, register_idx, rank) —
    never dense arrays — so the per-round union-of-neighbors is one
    edge join plus a partial-aggregated groupBy max over at most
    nodes x m rows, all JVM-side, lineage cut per round. State is
    O(nodes x m) regardless of graph density: that is the HyperBall
    trade against the exact operator's sum-of-ball-sizes.

    Determinism (cross-run AND cross-engine): the register hash is the
    md5-prefix 60-bit integer (replayable in any engine); the HLL
    denominator is summed in EXACT integer arithmetic (terms
    2^(S+1-rank) with S = 60 - log2m, so the sum is order-free), and
    each per-round estimate is a fixed literal/column IEEE expression
    rounded to 6 dp. The one libm call (ln for the linear-counting
    small-range correction) is 1-ulp class and absorbed by the
    rounding grid.

    Returns (id, hb_reached, hb_harmonic): the radius-R ball estimate
    and the truncated harmonic estimate. Relative error ~1.04/sqrt(m)
    per ball (~13% at the default m=64; raise log2m for tighter).
    """
    m = 1 << log2m
    S = 60 - log2m
    scale_a = hyperball_alpha(m) * m * m * float(2 ** (S + 1))
    e = (edges.select(F.col(src_col).alias("src"),
                      F.col(dst_col).alias("dst"))
         .filter(F.col("src") != F.col("dst")).distinct())
    h = F.conv(F.substring(F.md5(F.col("id")), 1, _HB_HASH_HEX),
               16, 10).cast("long")
    w = F.shiftright(h, log2m)
    bl = F.when(w > 0, F.length(F.bin(w))).otherwise(F.lit(0))
    state = nodes.select(
        F.col("id").alias("v"),
        (h % m).cast("int").alias("idx"),
        (F.lit(S + 1) - bl).cast("int").alias("rank"))

    def estimate(st, r):
        agg = st.groupBy("v").agg(
            F.count("*").alias("cnt"),
            F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), "
                         f"{S + 1} - rank)")).alias("sp"))
        ds = (F.col("sp")
              + (F.lit(m) - F.col("cnt")) * F.lit(2 ** (S + 1)))
        eraw = F.lit(scale_a) / ds.cast("double")
        v0 = F.lit(m) - F.col("cnt")
        est = F.when((eraw <= F.lit(2.5 * m)) & (v0 > 0),
                     F.lit(float(m))
                     * F.log(F.lit(float(m)) / v0.cast("double"))) \
            .otherwise(eraw)
        return agg.select("v", F.round(est, 6).alias(f"est{r}"))

    ests = [estimate(state, 0)]
    for r in range(1, radius + 1):
        moved = (state.join(e, state["v"] == e["src"])
                 .select(F.col("dst").alias("v"), "idx", "rank"))
        state = (state.unionByName(moved)
                 .groupBy("v", "idx").agg(F.max("rank").alias("rank")))
        if checkpoint:
            state = state.localCheckpoint(eager=False)
        ests.append(estimate(state, r))

    out = nodes.select(F.col("id").alias("v"))
    for fr in ests:
        out = out.join(fr, "v", "left")
    harmonic = None
    for r in range(1, radius + 1):
        term = (F.col(f"est{r}") - F.col(f"est{r - 1}")) / float(r)
        harmonic = term if harmonic is None else harmonic + term
    return out.select(
        F.col("v").alias("id"),
        F.col(f"est{radius}").alias("hb_reached"),
        F.round(harmonic, 6).alias("hb_harmonic"))
