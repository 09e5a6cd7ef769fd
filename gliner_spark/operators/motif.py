"""GraphFrames-style motif finding over the KG edge table.

`find(edges, "(a)-[e]->(b); (b)-[e2]->(c); !(a)-[]->(c)")` compiles a
structural pattern into a chain of DataFrame equi-joins — the query
surface a KG user reaches for right after nodes/edges materialize
("who is two hops from X", "open triangles", "co-subjects of a
predicate"). Semantics follow the GraphFrames `GraphFrame.find` motif
language (public API, org.graphframes — re-expressed from its documented
contract, not its code):

  * terms are `;`-separated; each positive term is `(a)-[e]->(b)` with
    optional names. Anonymous vertices/edges (`()`, `[]`) participate in
    the match but are absent from the output.
  * a named element is ONE binding shared across all terms that use it;
    the same edge table row may bind two different names (no
    isomorphism constraint — add `where` filters to forbid it, exactly
    as GraphFrames documents).
  * `!(a)-[]->(b)` is a negated term: no edge a→b may exist. Negated
    edges cannot carry a name, and their vertices must be bound by a
    positive or vertex-only term.
  * a bare `(a)` term binds `a` over the vertex set without demanding
    any incident edge.

Output: one STRUCT column per named vertex (the vertex row; `(id)` only
when no vertices table is given) and per named edge (the full edge row).

Scale shape: every hop is an equi-join on the int64 vertex key — the
same shuffle the edge table is already partitioned by after
`build_edges`; join order is greedily connected (each new term shares at
least one bound vertex when the pattern is connected), so no cartesian
products arise for connected patterns. Negated terms become left-anti
joins on distinct (src, dst) pairs. Disconnected patterns fall back to a
cross join of components — legal, loud in the plan, and on the user (as
in GraphFrames). Skewed hub vertices are AQE's skew-join case; the
operator adds no driver-side work at all.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .graph import _undirected_edges

_TERM = re.compile(
    r"^(?P<neg>!)?\s*\((?P<src>[A-Za-z_][A-Za-z0-9_]*)?\)"
    r"(?:\s*-\s*\[(?P<edge>[A-Za-z_][A-Za-z0-9_]*)?\]\s*->\s*"
    r"\((?P<dst>[A-Za-z_][A-Za-z0-9_]*)?\))?$"
)


def _parse(pattern: str):
    terms = []
    for raw in pattern.split(";"):
        raw = raw.strip()
        if not raw:
            continue
        m = _TERM.match(raw)
        if m is None:
            raise ValueError(f"unparseable motif term: {raw!r}")
        d = m.groupdict()
        is_edge = "->" in raw
        if d["neg"]:
            if not is_edge:
                raise ValueError(f"negated term must be an edge: {raw!r}")
            if d["edge"]:
                raise ValueError(
                    f"negated edges cannot be named: {raw!r}"
                )
        terms.append(
            {
                "neg": bool(d["neg"]),
                "src": d["src"],
                "edge": d["edge"],
                "dst": d["dst"] if is_edge else None,
                "is_edge": is_edge,
            }
        )
    if not terms:
        raise ValueError("empty motif pattern")
    return terms


def find(
    edges: DataFrame,
    pattern: str,
    vertices: DataFrame | None = None,
    src_col: str = "src",
    dst_col: str = "dst",
    id_col: str = "id",
) -> DataFrame:
    """Match `pattern` against the directed edge table → one row per
    binding, one struct column per named vertex/edge (see module doc).

    `edges` needs `src_col`/`dst_col`; every other column rides along
    inside named-edge structs. `vertices` (optional) supplies vertex
    attribute structs and the universe for vertex-only terms; without
    it the universe is the distinct edge endpoints."""
    terms = _parse(pattern)
    fresh = iter(f"__anon{i}" for i in range(len(terms) * 2 + 2))
    for t in terms:
        if t["src"] is None:
            t["src"] = next(fresh)
        if t["is_edge"] and t["dst"] is None:
            t["dst"] = next(fresh)

    pos = [t for t in terms if t["is_edge"] and not t["neg"]]
    neg = [t for t in terms if t["neg"]]
    vonly = [t for t in terms if not t["is_edge"]]

    bound_by_pos = {n for t in pos for n in (t["src"], t["dst"])}
    for t in neg:
        for n in (t["src"], t["dst"]):
            if n not in bound_by_pos and n not in {v["src"] for v in vonly}:
                raise ValueError(
                    f"negated term vertex ({n}) is bound by no positive term"
                )

    pair = edges.select(
        F.col(src_col).alias("__s"), F.col(dst_col).alias("__d")
    ).distinct()
    vert_ids = (
        vertices.select(F.col(id_col).alias("__v"))
        if vertices is not None
        else pair.select(F.col("__s").alias("__v")).union(
            pair.select(F.col("__d").alias("__v"))
        ).distinct()
    )

    # greedily connected join order: always pick a term sharing a bound
    # vertex when one exists, so connected patterns never cross-join
    ordered: list[dict] = []
    remaining = list(pos)
    bound: set[str] = set()
    while remaining:
        nxt = next(
            (t for t in remaining if {t["src"], t["dst"]} & bound),
            remaining[0],
        )
        remaining.remove(nxt)
        ordered.append(nxt)
        bound |= {nxt["src"], nxt["dst"]}

    names_seen: set[str] = set()
    for t in pos:
        if t["edge"]:
            if t["edge"] in names_seen:
                raise ValueError(
                    f"edge name reused across terms: {t['edge']!r}"
                )
            names_seen.add(t["edge"])
    vertex_names = {n for t in terms for n in (t["src"], t["dst"]) if n}
    clash = names_seen & vertex_names
    if clash:
        raise ValueError(f"name used for both vertex and edge: {clash}")

    out: DataFrame | None = None
    bound = set()
    edge_payload = list(edges.columns)

    for t in ordered:
        s, d, e = t["src"], t["dst"], t["edge"]
        cols = [F.col(src_col).alias(f"__{s}")]
        if d != s:
            cols.append(F.col(dst_col).alias(f"__{d}"))
        if e:
            cols.append(F.struct(*edge_payload).alias(f"__e_{e}"))
        leg = edges
        if d == s:
            leg = leg.where(F.col(src_col) == F.col(dst_col))
        leg = leg.select(*cols)
        if out is None:
            out = leg
        else:
            on = sorted({n for n in (s, d) if n in bound})
            if on:
                out = out.join(leg, [f"__{n}" for n in on])
            else:
                out = out.crossJoin(leg)
        bound |= {s, d}

    for t in vonly:
        s = t["src"]
        leg = vert_ids.select(F.col("__v").alias(f"__{s}"))
        if out is None:
            out = leg
        elif s in bound:
            out = out.join(leg, f"__{s}")  # semi-restrict to vertex set
        else:
            out = out.crossJoin(leg)
        bound.add(s)

    assert out is not None  # _parse guarantees at least one term

    for t in neg:
        out = out.join(
            pair,
            (F.col(f"__{t['src']}") == F.col("__s"))
            & (F.col(f"__{t['dst']}") == F.col("__d")),
            "left_anti",
        )

    named_vs = sorted(
        n for n in bound if not n.startswith("__anon")
    )
    named_es = [t["edge"] for t in ordered if t["edge"]]

    if vertices is not None:
        vstruct = vertices.select(
            F.col(id_col).alias("__vid"),
            F.struct(*vertices.columns).alias("__vrow"),
        )
        for n in named_vs:
            out = out.join(
                vstruct.select(
                    F.col("__vid").alias(f"__{n}"),
                    F.col("__vrow").alias(f"__v_{n}"),
                ),
                f"__{n}",
            )
        sel: list[Column] = [F.col(f"__v_{n}").alias(n) for n in named_vs]
    else:
        sel = [F.struct(F.col(f"__{n}").alias(id_col)).alias(n) for n in named_vs]
    sel += [F.col(f"__e_{e}").alias(e) for e in named_es]
    return out.select(*sel)


def triangle_counts(
    edges: DataFrame, src_col: str = "src", dst_col: str = "dst"
) -> DataFrame:
    """Per-vertex count of UNDIRECTED triangles → (id, n_triangles).

    Canonicalize to undirected distinct pairs with src < dst, then one
    two-hop join + one closing-edge semi-join — the standard
    node-iterator shape. Each triangle {a<b<c} is found exactly once
    via (a,b),(b,c),(a,c); per-vertex counts credit all three corners.
    Self-loops are dropped by the a<b canonicalization. Two shuffles on
    vertex keys; no driver iteration.
    """
    und = _undirected_edges(edges, src_col, dst_col)
    tri = (
        und.alias("ab")
        .join(
            und.alias("bc"),
            F.col("ab.b") == F.col("bc.a"),
        )
        .select(
            F.col("ab.a").alias("x"),
            F.col("ab.b").alias("y"),
            F.col("bc.b").alias("z"),
        )
        .join(
            und.alias("ac"),
            (F.col("x") == F.col("ac.a")) & (F.col("z") == F.col("ac.b")),
            "left_semi",
        )
    )
    corners = (
        tri.select(F.col("x").alias("id"))
        .union(tri.select(F.col("y").alias("id")))
        .union(tri.select(F.col("z").alias("id")))
    )
    return corners.groupBy("id").agg(F.count(F.lit(1)).alias("n_triangles"))


def clustering_coefficient(
    edges: DataFrame, src_col: str = "src", dst_col: str = "dst"
) -> DataFrame:
    """Local clustering coefficient per vertex → (id, degree,
    n_triangles, coefficient).

    coefficient(v) = 2·triangles(v) / (deg(v)·(deg(v)−1)) over the
    undirected simple graph (a<b canonicalization, self-loops
    dropped) — 0.0 for degree-<2 vertices. The per-vertex transitivity
    score a KG curation pass reads to separate clique-like canonical
    entities from star-shaped hub artifacts (a linking error that
    merges two entities shows up as a high-degree, low-coefficient
    vertex).

    Composition of `triangle_counts` (two vertex-key shuffles) + one
    degree aggregation + a broadcast-or-shuffle join on id; the
    coefficient itself is exact integer arithmetic divided in
    binary64 — bit-stable cross-engine, so the op is oracle-checkable.
    """
    und = _undirected_edges(edges, src_col, dst_col)
    deg = (
        und.select(F.col("a").alias("id"))
        .union(und.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    tri = triangle_counts(edges, src_col=src_col, dst_col=dst_col)
    d = F.col("degree")
    return deg.join(tri, "id", "left").select(
        "id",
        "degree",
        F.coalesce("n_triangles", F.lit(0)).alias("n_triangles"),
        F.when(
            d >= 2,
            F.round(
                2.0 * F.coalesce("n_triangles", F.lit(0)) / (d * (d - 1)),
                6,
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("coefficient"),
    )
