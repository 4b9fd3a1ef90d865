"""Degree aggregations (reference A1/A2: ``SpEagle.py:112-113``,
``GANG.py:99-104``, ``ZooBP.py:120-124`` row/col sums).

Pure groupBy-count/sum — map-side partial aggregation + final agg, no
custom code. At 100 TB this is one shuffle keyed on the vertex id; AQE
coalesces the post-shuffle partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def out_degree(edges: DataFrame) -> DataFrame:
    return edges.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("out_deg")
    )


def in_degree(edges: DataFrame) -> DataFrame:
    return edges.groupBy(F.col("dst").alias("id")).agg(
        F.count(F.lit(1)).alias("in_deg")
    )


def degree(edges_undirected_ab: DataFrame) -> DataFrame:
    """Undirected degree from canonical (a,b) edges."""
    u = edges_undirected_ab
    return (
        u.select(F.col("a").alias("id"))
        .unionAll(u.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("deg"))
    )


def reciprocity(edges_dir: DataFrame) -> DataFrame:
    """(n_edges, n_recip, reciprocity): the fraction of directed edges
    whose reverse edge also exists — the standard first-order web-graph
    asymmetry statistic. One self-equi-join on the (src, dst) pair key
    (edges are distinct, so inner == semi) + two scalar counts; the
    join shuffles once on the composite pair, never fans out."""
    e = edges_dir.select("src", "dst")
    rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    n_recip = (
        e.join(rev, ["src", "dst"])
        .agg(F.count(F.lit(1)).alias("n_recip"))
    )
    n_edges = e.agg(F.count(F.lit(1)).alias("n_edges"))
    return n_edges.crossJoin(n_recip).select(
        "n_edges",
        "n_recip",
        F.round(
            F.col("n_recip").cast("double") / F.col("n_edges").cast("double"),
            6,
        ).alias("reciprocity"),
    )


def powerlaw_alpha(edges_dir: DataFrame, dmin: int = 2) -> DataFrame:
    """(n_tail, alpha): maximum-likelihood estimate of the in-degree
    power-law exponent via Clauset–Shalizi–Newman's DISCRETE-data
    approximation (their eq. 3.7 — the −½ offset; the continuous MLE
    would divide by dmin itself, which is wrong for integer degrees):
    alpha = 1 + n / Σ ln(d_i / (dmin − ½)) over degrees >= dmin — the
    one-pass scalar every web-graph release quotes for its in-degree
    tail. Cross-engine float discipline: each log term is rounded to
    6 dp and summed as exact DECIMAL (associative — partitioning-
    independent), with one division at the end."""
    deg = in_degree(edges_dir).where(F.col("in_deg") >= dmin)
    term = F.round(
        F.log(F.col("in_deg").cast("double") / F.lit(dmin - 0.5)), 6
    ).cast("decimal(28,6)")
    agg = deg.agg(
        F.count(F.lit(1)).alias("n_tail"),
        F.sum(term).cast("double").alias("s"),
    )
    return agg.select(
        "n_tail",
        F.round(
            F.lit(1.0) + F.col("n_tail").cast("double") / F.col("s"), 6
        ).alias("alpha"),
    )


RICH_CLUB_KS = (1, 2, 4, 8, 16, 32, 64)


def rich_club(und: DataFrame, ks: tuple[int, ...] = RICH_CLUB_KS
              ) -> DataFrame:
    """(k, n_k, e_k, phi): the rich-club coefficient over the
    undirected graph — for each degree threshold k, the density of the
    subgraph induced by the vertices of degree > k:

        φ(k) = 2·E_k / (N_k·(N_k−1))

    (Zhou-Mondragón; the 'do hubs link to hubs' web-graph statistic,
    complementing the scalar degree assortativity). Rows with N_k < 2
    (φ undefined) are omitted — a deterministic set.

    Scale shape: degrees are one groupBy; per-edge min-endpoint degree
    is two vertex-keyed joins; then everything collapses to two TINY
    histograms (distinct degrees ≤ max degree rows), and the ks grid
    joins those histograms with an inequality — the grid and histogram
    frames are KBs at any corpus size, so the threshold sweep never
    rescans edges. Exact BIGINTs throughout, φ is ONE double division."""
    deg = degree(und)
    m = (
        und.join(deg.select(F.col("id").alias("a"),
                            F.col("deg").alias("da")), "a")
        .join(deg.select(F.col("id").alias("b"),
                         F.col("deg").alias("db")), "b")
        .select(F.least("da", "db").alias("m"))
    )
    eh = m.groupBy("m").agg(F.count(F.lit(1)).alias("ec"))
    nh = deg.groupBy("deg").agg(F.count(F.lit(1)).alias("nc"))
    grid = und.sparkSession.createDataFrame(
        [(int(k),) for k in ks], "k long")
    nk = (
        grid.join(nh, nh.deg > grid.k)
        .groupBy("k").agg(F.sum("nc").alias("n_k"))
    )
    ek = (
        grid.join(eh, eh.m > grid.k)
        .groupBy("k").agg(F.sum("ec").alias("e_k"))
    )
    return (
        nk.join(ek, "k", "left")
        .where(F.col("n_k") >= 2)
        .select(
            "k", "n_k",
            F.coalesce(F.col("e_k"), F.lit(0)).alias("e_k"),
            (F.lit(2.0) * F.coalesce(F.col("e_k"), F.lit(0)).cast("double")
             / (F.col("n_k") * (F.col("n_k") - 1)).cast("double"))
            .alias("phi"),
        )
    )


def degree_deciles(und: DataFrame) -> DataFrame:
    """(id, deg, decile): each vertex's degree decile (0..9), defined
    from the EXACT cumulative degree histogram — all vertices of the
    same degree share a bucket (floor(10·cum_below/n)), so no
    per-vertex rank window ever sorts a billion tied deg=1 rows (the
    skew trap the tie-sharing definition exists to avoid). Feature
    binning for degree-aware models; integer arithmetic end-to-end."""
    deg = degree(und)
    nh = deg.groupBy("deg").agg(F.count(F.lit(1)).alias("nc"))
    # cumulative count strictly below each degree: a window over the
    # tiny histogram (distinct degrees), never over vertices
    from pyspark.sql.window import Window

    w = (Window.orderBy("deg")
         .rowsBetween(Window.unboundedPreceding, -1))
    cum = nh.select(
        "deg", F.coalesce(F.sum("nc").over(w), F.lit(0)).alias("below"))
    n = deg.agg(F.count(F.lit(1)).alias("n"))
    return (
        deg.join(F.broadcast(cum), "deg")
        .crossJoin(F.broadcast(n))
        .select(
            "id", "deg",
            F.expr("(10 * below) div n").cast("int").alias("decile"),
        )
    )


def knn_curve(und: DataFrame) -> DataFrame:
    """(deg, n_vertices, avg_nbr_deg): the average-neighbor-degree
    curve knn(k) (Pastor-Satorras–Vázquez-Vespignani) — the standard
    web-graph plot read next to the scalar assortativity: decreasing =
    disassortative (hubs touch leaves), flat = uncorrelated.

    For each degree class k: the mean degree of all neighbors of all
    degree-k vertices. Exact BIGINT sums (per-edge endpoint-degree
    join, then one groupBy on the tiny degree-class key), ONE double
    division per output row. n_vertices counts the class size."""
    deg = degree(und)
    sym = und.select(F.col("a").alias("v"), F.col("b").alias("u")) \
        .unionAll(und.select(F.col("b").alias("v"), F.col("a").alias("u")))
    j = (
        sym.join(deg.select(F.col("id").alias("v"),
                            F.col("deg").alias("dv")), "v")
        .join(deg.select(F.col("id").alias("u"),
                         F.col("deg").alias("du")), "u")
    )
    per_class = j.groupBy(F.col("dv").alias("deg")).agg(
        F.sum("du").alias("s_nbr"),
        F.count(F.lit(1)).alias("n_ends"),
    )
    sizes = deg.groupBy("deg").agg(F.count(F.lit(1)).alias("n_vertices"))
    return (
        per_class.join(sizes, "deg")
        .select(
            "deg", "n_vertices",
            (F.col("s_nbr").cast("double") / F.col("n_ends").cast("double"))
            .alias("avg_nbr_deg"),
        )
    )


def degree_entropy(edges_dir: DataFrame) -> DataFrame:
    """(n_vertices, n_degrees, entropy): Shannon entropy of the
    in-degree distribution, H = −Σ p_k·ln p_k — the heterogeneity
    scalar web-graph releases report beside the power-law exponent
    (H rises as the degree mix diversifies; a regular graph scores 0).
    Float discipline: each −p·ln p term is rounded to 6 dp and summed
    as exact DECIMAL (associative), one final round — the
    powerlaw_alpha contract. Two map-side-combined groupBys, then a
    |distinct degrees|-row aggregate; nothing else."""
    deg = in_degree(edges_dir)
    hist = deg.groupBy("in_deg").agg(F.count(F.lit(1)).alias("n_k"))
    tot = deg.agg(F.count(F.lit(1)).alias("n_vertices"))
    p = F.col("n_k").cast("double") / F.col("n_vertices").cast("double")
    term = F.round(-p * F.log(p), 6).cast("decimal(28,6)")
    return (
        hist.crossJoin(F.broadcast(tot))
        .agg(
            F.first("n_vertices").alias("n_vertices"),
            F.count(F.lit(1)).alias("n_degrees"),
            F.round(F.sum(term).cast("double"), 6).alias("entropy"),
        )
    )
