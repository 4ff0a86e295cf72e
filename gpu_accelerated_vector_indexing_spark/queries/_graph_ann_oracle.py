"""Staged-CTE DuckDB oracle for the graph-ANN family.

Replays the ENTIRE cluster-seeded NN-descent build
(operators/graph_ann.build_knn_graph) and the bounded-hop beam search
(knn_graph_beam) as deterministic SQL, mirroring the Spark stages
one-to-one: same rounded-cosine scores (with the same hoisted-norm
factoring — ``sqrt(dot(v,v))`` is the same double wherever computed, so
hoisting is value-neutral and both engines get the cheap form), same
(score DESC, nbr ASC) edge cut, same (score DESC, vec_id DESC) beam
cut, UNION ALL where Spark ``union``s and DISTINCT where Spark
``.distinct()``s. The same pattern as queries/_pq_oracle.py: if any
stage diverges between engines the value hash catches it.
"""

from __future__ import annotations

from gpu_accelerated_vector_indexing_spark.operators.graph_ann import (
    BEAM_HOPS,
    BEAM_RESCORE,
    BEAM_WIDTH,
    K_GRAPH,
    NN_DESCENT_ROUNDS,
    SEED_WINDOW,
)

# MATERIALIZED: every CTE below is referenced several times downstream
# (u{i} twice by the self-join, g{i} by u/p/scoring, en by every scoring
# stage, the final graph once per beam hop); materializing pins DuckDB
# to linear work exactly like the Spark side's localCheckpoint rounds.
_EN = (
    "en AS MATERIALIZED (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e)"
)


def _pair_score(a: str = "a", b: str = "b") -> str:
    return (
        f"round(list_dot_product({a}.v, {b}.v) /"
        f" ({a}.nrm * {b}.nrm + 1e-8), 6)"
    )


def _scored_topk(src: str, out: str, k: int, en: str = "en") -> str:
    """Score (node, nbr) pairs from CTE ``src`` and keep the per-node
    top-k — the SQL twin of graph_ann._score_pairs + _topk_per_node.
    ``en`` names the normed-corpus CTE (prefixed for shard builds)."""
    return f"""{out} AS MATERIALIZED (
  SELECT node, nbr, score, rk FROM (
    SELECT node, nbr, score,
           row_number() OVER (PARTITION BY node ORDER BY score DESC, nbr ASC) AS rk
    FROM (
      SELECT c.node, c.nbr, {_pair_score()} AS score
      FROM {src} c JOIN {en} a ON a.vec_id = c.node JOIN {en} b ON b.vec_id = c.nbr
    )
  ) WHERE rk <= {k})"""


# the default corpus CTE; the reference-shape family substitutes its
# derived 384-dim corpus here (refshape_q._REF_E) — the build/walk CTEs
# downstream are corpus-agnostic, mirroring the Spark side's
# build_knn_graph_over / beam_visited_over parameterization
E_DEFAULT = "e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings)"


def _round_ctes(g: str, u: str, p: str, out: str, k: int, en: str = "en") -> list[str]:
    """One NN-descent round as CTE parts — the SQL twin of
    graph_ann._descent_round (the iteration-kernel step of
    graph_ann._descend), shared by the full build and the merge."""
    return [
        f"{u} AS (SELECT node, nbr FROM {g} UNION ALL SELECT nbr AS node, node AS nbr FROM {g})",
        f"""{p} AS (
  SELECT DISTINCT node, nbr FROM (
    SELECT x.node AS node, y.nbr AS nbr
    FROM {u} x JOIN {u} y ON x.nbr = y.node WHERE x.node <> y.nbr
    UNION ALL SELECT node, nbr FROM {g}
  ))""",
        _scored_topk(p, out, k, en=en),
    ]


def graph_build_ctes(
    k: int = K_GRAPH,
    rounds: int = NN_DESCENT_ROUNDS,
    e_sql: str = E_DEFAULT,
    prefix: str = "",
) -> tuple[str, str]:
    """Return (cte_text, final_graph_name) for the NN-descent build.
    ``prefix`` namespaces every internal CTE (and expects ``e_sql`` to
    define ``{prefix}e``) so several builds — the shard-merge oracle's
    two half builds — coexist in one statement; the default "" emits
    byte-identical SQL to the pre-prefix form."""
    x = prefix
    parts = [
        e_sql,
        f"{x}en AS MATERIALIZED (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM {x}e)"
        if x
        else _EN,
        f"""{x}ranked AS (
  SELECT vec_id, label,
         (row_number() OVER (PARTITION BY label ORDER BY vec_id) - 1) // {SEED_WINDOW} AS cg
  FROM {x}e)""",
        f"""{x}seed AS (
  SELECT a.vec_id AS node, b.vec_id AS nbr
  FROM {x}ranked a JOIN {x}ranked b
    ON a.label = b.label AND a.cg = b.cg AND a.vec_id <> b.vec_id
  UNION
  SELECT a.vec_id AS node, b.vec_id AS nbr
  FROM {x}e a JOIN {x}e b
    ON (a.vec_id // {SEED_WINDOW}) = (b.vec_id // {SEED_WINDOW})
   AND a.vec_id <> b.vec_id)""",
        _scored_topk(f"{x}seed", f"{x}g0", k, en=f"{x}en"),
    ]
    g = f"{x}g0"
    for i in range(1, rounds + 1):
        parts.extend(_round_ctes(g, f"{x}u{i}", f"{x}p{i}", f"{x}g{i}", k, en=f"{x}en"))
        g = f"{x}g{i}"
    return ",\n".join(parts), g


def build_digest_sql(e_sql: str = E_DEFAULT) -> str:
    ctes, g = graph_build_ctes(e_sql=e_sql)
    return f"""WITH {ctes}
SELECT rk,
       CAST(count(*) AS BIGINT) AS n_edges,
       CAST(sum(CAST(round(score * 1e6) AS BIGINT)) AS BIGINT) AS score_sum_micro,
       CAST(sum(nbr) AS BIGINT) AS nbr_id_sum
FROM {g}
GROUP BY rk ORDER BY rk"""


def _beam_ctes(
    query_id: int,
    g: str,
    suffix: str = "",
    beam: int = BEAM_WIDTH,
    hops: int = BEAM_HOPS,
    ent: str = "ent",
    en: str = "en",
) -> tuple[list[str], str]:
    """CTE parts for one beam search over final graph ``g`` starting
    from entry CTE ``ent``; names carry ``suffix`` so several searches
    (the recall harness) coexist in one statement. ``en`` names the
    normed scoring corpus (the CDC refresh walks over the LIVE corpus,
    not the build corpus). Returns (parts, final_visited_name)."""
    s = suffix
    qscore = f"round(list_dot_product({en}.v, q{s}.qv) / ({en}.nrm * q{s}.qn + 1e-8), 6)"
    parts = [
        f"q{s} AS (SELECT v AS qv, nrm AS qn FROM {en} WHERE vec_id = {query_id})",
        f"""v{s}_0 AS (
  SELECT {en}.vec_id, {qscore} AS score
  FROM {en} CROSS JOIN q{s} WHERE {en}.vec_id IN (SELECT vec_id FROM {ent}))""",
        f"f{s}_0 AS (SELECT vec_id FROM v{s}_0 ORDER BY score DESC, vec_id DESC LIMIT {beam})",
    ]
    for i in range(1, hops + 1):
        parts.append(f"""x{s}_{i} AS (
  SELECT DISTINCT gr.nbr AS vec_id FROM {g} gr JOIN f{s}_{i - 1} f ON gr.node = f.vec_id)""")
        parts.append(f"""s{s}_{i} AS (
  SELECT {en}.vec_id, {qscore} AS score
  FROM x{s}_{i} JOIN {en} USING (vec_id) CROSS JOIN q{s})""")
        parts.append(f"""v{s}_{i} AS (
  SELECT vec_id, max(score) AS score FROM (
    SELECT * FROM v{s}_{i - 1} UNION ALL SELECT * FROM s{s}_{i}
  ) GROUP BY vec_id)""")
        parts.append(
            f"f{s}_{i} AS (SELECT vec_id FROM v{s}_{i} ORDER BY score DESC, vec_id DESC LIMIT {beam})"
        )
    return parts, f"v{s}_{hops}"

_ENT = "ent AS (SELECT min(vec_id) AS vec_id FROM e GROUP BY label)"

# query-independent 1-bit sign codes (graph_ann.fixture_bq_codes'
# memoized state) — hoisted so several compressed walks in one
# statement share one materialization
_SB = """sb AS MATERIALIZED (
  SELECT vec_id, list_transform(v, x -> CASE WHEN x > 0 THEN 1.0 ELSE 0.0 END) AS s
  FROM en)"""


def beam_search_sql(
    query_id: int = 0,
    k: int = 5,
    beam: int = BEAM_WIDTH,
    hops: int = BEAM_HOPS,
    lang: str | None = None,
    delete_mod: int | None = None,
    e_sql: str = E_DEFAULT,
) -> str:
    """``lang`` (the filtered variant): the walk is IDENTICAL — the
    predicate applies only at emission over the visited set, mirroring
    graph_ann.knn_graph_beam_filtered's semi join. ``delete_mod`` (the
    with-deletes variant): the walk itself changes — edges touching a
    tombstone are masked and entries come from the live corpus,
    mirroring knn_graph_beam_with_deletes."""
    ctes, g = graph_build_ctes(e_sql=e_sql)
    pre = [ctes]
    ent = "ent"
    if delete_mod is not None:
        pre.append(
            f"gdel AS (SELECT node, nbr FROM {g}"
            f" WHERE node % {delete_mod} <> 0 AND nbr % {delete_mod} <> 0)"
        )
        pre.append(
            f"entd AS (SELECT min(vec_id) AS vec_id FROM e"
            f" WHERE vec_id % {delete_mod} <> 0 GROUP BY label)"
        )
        g, ent = "gdel", "entd"
    else:
        pre.append(_ENT)
    bparts, v = _beam_ctes(query_id, g, beam=beam, hops=hops, ent=ent)
    joined = ",\n".join([*pre, *bparts])
    where = (
        f"\nWHERE vec_id IN (SELECT doc_id FROM documents WHERE lang = '{lang}')"
        if lang is not None
        else ""
    )
    return (
        f"WITH {joined}\n"
        f"SELECT vec_id, score FROM {v}{where}"
        f" ORDER BY score DESC, vec_id DESC LIMIT {k}"
    )


def state_roundtrip_sql() -> str:
    """Replay the build and fingerprint the FULL edge list — the value
    twin of graph_ann.graph_state_roundtrip's read-back of the
    persisted parquet state."""
    ctes, g = graph_build_ctes()
    return f"""WITH {ctes}
SELECT CAST(count(*) AS BIGINT) AS n_edges,
       CAST(count(DISTINCT node) AS BIGINT) AS n_nodes,
       CAST(sum(CAST(round(score * 1e6) AS BIGINT)) AS BIGINT) AS score_sum_micro,
       CAST(sum(node) AS BIGINT) AS node_id_sum,
       CAST(sum(nbr) AS BIGINT) AS nbr_id_sum
FROM {g}"""


def _beam_bq_ctes(
    query_id: int,
    g: str,
    suffix: str = "",
    k: int = 5,
    beam: int = BEAM_WIDTH,
    hops: int = BEAM_HOPS,
    rescore_n: int | None = BEAM_RESCORE,
) -> tuple[list[str], str]:
    """CTE parts for one compressed (1-bit) beam walk + exact rescore
    over final graph ``g`` (graph_ann.knn_graph_beam_bq). The sign
    codes become 0/1 DOUBLE lists and Hamming distance folds as
    ``Σs + Σq − 2·s·q`` — every term a small integer held exactly in
    doubles, so the integer Spark computes via ``bit_count(XOR)`` is
    reproduced bit-for-bit. Beam cuts order (hamming ASC, vec_id DESC);
    the final rescore is the engine cosine recipe over the visited set
    (all of it when ``rescore_n`` is None, the Spark default). Returns
    (parts, top-k CTE name); names carry ``suffix`` so a walk can
    coexist with others in one statement. REQUIRES the caller to
    include the query-independent ``_SB`` sign-code CTE (hoisted like
    ``_ENT`` so several walks share one materialization)."""
    s = suffix
    hamm = (
        f"CAST(list_sum(sb.s) + list_sum(qb{s}.qs)"
        f" - 2 * list_dot_product(sb.s, qb{s}.qs) AS BIGINT)"
    )
    parts = [
        f"qb{s} AS (SELECT s AS qs FROM sb WHERE vec_id = {query_id})",
        f"""hv{s}_0 AS (
  SELECT sb.vec_id, {hamm} AS hamming
  FROM sb CROSS JOIN qb{s} WHERE sb.vec_id IN (SELECT vec_id FROM ent))""",
        f"hf{s}_0 AS (SELECT vec_id FROM hv{s}_0 ORDER BY hamming ASC, vec_id DESC LIMIT {beam})",
    ]
    for i in range(1, hops + 1):
        parts.append(f"""hx{s}_{i} AS (
  SELECT DISTINCT gr.nbr AS vec_id FROM {g} gr JOIN hf{s}_{i - 1} f ON gr.node = f.vec_id)""")
        parts.append(f"""hs{s}_{i} AS (
  SELECT sb.vec_id, {hamm} AS hamming
  FROM hx{s}_{i} JOIN sb USING (vec_id) CROSS JOIN qb{s})""")
        parts.append(f"""hv{s}_{i} AS (
  SELECT vec_id, min(hamming) AS hamming FROM (
    SELECT * FROM hv{s}_{i - 1} UNION ALL SELECT * FROM hs{s}_{i}
  ) GROUP BY vec_id)""")
        parts.append(
            f"hf{s}_{i} AS (SELECT vec_id FROM hv{s}_{i} ORDER BY hamming ASC, vec_id DESC LIMIT {beam})"
        )
    if rescore_n is None:
        parts.append(f"hcand{s} AS (SELECT vec_id FROM hv{s}_{hops})")
    else:
        parts.append(
            f"hcand{s} AS (SELECT vec_id FROM hv{s}_{hops}"
            f" ORDER BY hamming ASC, vec_id DESC LIMIT {rescore_n})"
        )
    parts.append(
        f"qe{s} AS (SELECT v AS qv, nrm AS qn FROM en WHERE vec_id = {query_id})"
    )
    parts.append(f"""bqtop{s} AS (
  SELECT en.vec_id,
         round(list_dot_product(en.v, qe{s}.qv) / (en.nrm * qe{s}.qn + 1e-8), 6) AS score
  FROM hcand{s} JOIN en USING (vec_id) CROSS JOIN qe{s}
  ORDER BY score DESC, vec_id DESC LIMIT {k})""")
    return parts, f"bqtop{s}"


def beam_bq_sql(
    query_id: int = 0,
    k: int = 5,
    beam: int = BEAM_WIDTH,
    hops: int = BEAM_HOPS,
    rescore_n: int | None = BEAM_RESCORE,
    e_sql: str = E_DEFAULT,
) -> str:
    ctes, g = graph_build_ctes(e_sql=e_sql)
    bparts, top = _beam_bq_ctes(
        query_id, g, k=k, beam=beam, hops=hops, rescore_n=rescore_n
    )
    joined = ",\n".join([ctes, _ENT, _SB, *bparts])
    return (
        f"WITH {joined}\n"
        f"SELECT vec_id, score FROM {top} ORDER BY score DESC, vec_id DESC"
    )


def method_topk_sql(query_id: int = 0, k: int = 5) -> str:
    """The graph index's members for the ANN method-comparison grid
    (``ivf.ann_method_comparison``): the float beam's and compressed
    beam's top-k as ``(method, vec_id)`` pairs from ONE shared build
    replay. The harness wrapper joins these against ITS materialized
    exact set (``am_exact``) — so all 12 rows compare against one exact
    definition, and the oracle never re-derives brute force here."""
    ctes, g = graph_build_ctes()
    fparts, v = _beam_ctes(query_id, g, suffix="am")
    bparts, top = _beam_bq_ctes(query_id, g, suffix="am", k=k)
    parts = [
        ctes,
        _ENT,
        _SB,
        *fparts,
        f"""gotam AS (
  SELECT vec_id FROM {v} ORDER BY score DESC, vec_id DESC LIMIT {k})""",
        *bparts,
    ]
    joined = ",\n".join(parts)
    return f"""WITH {joined}
SELECT 'graph_beam' AS method, vec_id FROM gotam
UNION ALL
SELECT 'graph_beam_bq' AS method, vec_id FROM {top}"""


def search_with_docs_sql(query_id: int = 0, k: int = 5, e_sql: str = E_DEFAULT) -> str:
    """The beam top-k joined back to 200-char article snippets —
    graph_ann.knn_graph_search_with_docs (reference IVF.cpp:688-710's
    mapback through the graph index). ``e_sql`` swaps in the
    reference-shape derived corpus (refshape_graph_beam)."""
    inner = beam_search_sql(query_id=query_id, k=k, e_sql=e_sql)
    return f"""WITH gt AS (SELECT * FROM ({inner}))
SELECT t.vec_id, t.score, substr(d.text, 1, 200) AS snippet
FROM documents d JOIN gt t ON d.doc_id = t.vec_id"""


def recall_beam_sweep_sql(
    query_id: int = 0, k: int = 5, beams: tuple[int, ...] = (8, 24, 48)
) -> str:
    """One build replay, one walk per beam width, one exact top-k —
    graph_ann.graph_recall_sweep. Aggregates without GROUP BY, so a
    zero-hit width still emits its row (matching Spark's .agg)."""
    if not beams or len(set(beams)) != len(beams):
        raise ValueError(f"sweep widths must be non-empty and unique: {beams!r}")
    ctes, g = graph_build_ctes()
    parts = [ctes, _ENT]
    selects = []
    for b in beams:
        s = f"w{b}"
        bparts, v = _beam_ctes(query_id, g, suffix=s, beam=b)
        parts.extend(bparts)
        parts.append(f"""got{s} AS (
  SELECT vec_id FROM {v} ORDER BY score DESC, vec_id DESC LIMIT {k})""")
        selects.append(
            f"SELECT {b} AS beam, count(*) AS n_hits,"
            f" round(count(*) / {k}.0, 6) AS recall"
            f" FROM got{s} WHERE vec_id IN (SELECT vec_id FROM gsx)"
        )
    parts.append(f"""gsx AS (
  SELECT en.vec_id FROM en CROSS JOIN qw{beams[0]}
  ORDER BY round(list_dot_product(en.v, qw{beams[0]}.qv) /
                 (en.nrm * qw{beams[0]}.qn + 1e-8), 6) DESC,
           en.vec_id DESC LIMIT {k})""")
    joined = ",\n".join(parts)
    union = "\nUNION ALL\n".join(selects)
    return f"WITH {joined}\n{union}\nORDER BY beam"


def multi_beam_sql(query_ids: tuple[int, ...], k: int = 5) -> str:
    """One build replay, one beam walk per query, top-k each, unioned as
    (query_id, vec_id, score) — graph_ann.multi_query_graph_beam."""
    ctes, g = graph_build_ctes()
    parts = [ctes, _ENT]
    selects = []
    for qid in query_ids:
        s = f"mq{qid}"
        bparts, v = _beam_ctes(qid, g, suffix=s)
        parts.extend(bparts)
        selects.append(
            f"SELECT {qid} AS query_id, vec_id, score FROM ("
            f"SELECT vec_id, score FROM {v}"
            f" ORDER BY score DESC, vec_id DESC LIMIT {k})"
        )
    joined = ",\n".join(parts)
    union = "\nUNION ALL\n".join(selects)
    return f"WITH {joined}\n{union}"


def recall_sql(query_ids: tuple[int, ...], k: int = 5) -> str:
    """Per-query recall@k of beam search vs the exact top-k, both
    replayed in SQL — the ANN-quality harness row for the graph index
    (the ``ann_method_comparison`` posture applied per query)."""
    ctes, g = graph_build_ctes()
    parts = [ctes, _ENT]
    selects = []
    for qid in query_ids:
        s = f"q{qid}"
        bparts, v = _beam_ctes(qid, g, suffix=s)
        parts.extend(bparts)
        parts.append(f"""got{s} AS (
  SELECT vec_id FROM {v} ORDER BY score DESC, vec_id DESC LIMIT {k})""")
        parts.append(f"""ex{s} AS (
  SELECT en.vec_id FROM en CROSS JOIN q{s}
  ORDER BY round(list_dot_product(en.v, q{s}.qv) / (en.nrm * q{s}.qn + 1e-8), 6) DESC,
           en.vec_id DESC LIMIT {k})""")
        selects.append(
            f"SELECT {qid} AS query_id, CAST(count(*) AS BIGINT) AS n_hits,"
            f" round(count(*) / {float(k)}, 6) AS recall"
            f" FROM got{s} WHERE vec_id IN (SELECT vec_id FROM ex{s})"
        )
    joined = ",\n".join(parts)
    union = "\nUNION ALL\n".join(selects)
    return f"WITH {joined}\n{union}\nORDER BY query_id"


def insert_digest_sql() -> str:
    """Replay the incremental attach: batch→archive seed pairs from the
    SAME groupings as the build, one refinement hop through the masked
    archive adjacency, per-node top-k, build-digest shape."""
    from gpu_accelerated_vector_indexing_spark.operators.graph_ann import (
        GRAPH_INSERT_MODULUS as M,
    )

    ctes, g = graph_build_ctes()
    parts = [
        ctes,
        f"""arch AS (
  SELECT node, nbr FROM {g} WHERE node % {M} <> 0 AND nbr % {M} <> 0)""",
        f"""bseed AS (
  SELECT a.vec_id AS node, b.vec_id AS nbr
  FROM ranked a JOIN ranked b
    ON a.label = b.label AND a.cg = b.cg AND a.vec_id <> b.vec_id
  WHERE a.vec_id % {M} = 0 AND b.vec_id % {M} <> 0
  UNION
  SELECT a.vec_id AS node, b.vec_id AS nbr
  FROM e a JOIN e b
    ON (a.vec_id // {SEED_WINDOW}) = (b.vec_id // {SEED_WINDOW})
   AND a.vec_id <> b.vec_id
  WHERE a.vec_id % {M} = 0 AND b.vec_id % {M} <> 0)""",
        """brefine AS (
  SELECT DISTINCT s.node, gg.nbr
  FROM bseed s JOIN arch gg ON s.nbr = gg.node WHERE s.node <> gg.nbr)""",
        """bcand AS (
  SELECT DISTINCT node, nbr FROM (
    SELECT node, nbr FROM bseed UNION ALL SELECT node, nbr FROM brefine))""",
        _scored_topk("bcand", "battached", K_GRAPH),
    ]
    joined = ",\n".join(parts)
    return f"""WITH {joined}
SELECT rk,
       CAST(count(*) AS BIGINT) AS n_edges,
       CAST(sum(CAST(round(score * 1e6) AS BIGINT)) AS BIGINT) AS score_sum_micro,
       CAST(sum(nbr) AS BIGINT) AS nbr_id_sum
FROM battached
GROUP BY rk ORDER BY rk"""


def _relink_parts(g: str) -> list[str]:
    """The repair-stage CTEs over final graph ``g``: mask, affected
    set, undirected live adjacency, 2-hop candidates, repaired top-k
    edges (``rlrepaired``) — shared by the repair digest and the
    serve-after-repair walk so the certified and the served edge sets
    are ONE SQL definition (mirroring graph_ann's shared repair half,
    ``_repair``, read by ``relink_edges`` and every delta pass)."""
    from gpu_accelerated_vector_indexing_spark.operators.graph_ann import (
        DELETE_MOD as M,
    )

    return [
        f"""rlmask AS (
  SELECT node, nbr FROM {g} WHERE node % {M} <> 0 AND nbr % {M} <> 0)""",
        f"""rlaff AS (
  SELECT DISTINCT node FROM {g} WHERE node % {M} <> 0 AND nbr % {M} = 0)""",
        """rlund AS (
  SELECT node, nbr FROM rlmask UNION ALL SELECT nbr AS node, node AS nbr FROM rlmask)""",
        """rltwo AS (
  SELECT a.node, b.nbr
  FROM rlund a JOIN rlaff USING (node) JOIN rlund b ON a.nbr = b.node
  WHERE b.nbr <> a.node)""",
        """rlcand AS (
  SELECT DISTINCT node, nbr FROM (
    SELECT m.node, m.nbr FROM rlmask m JOIN rlaff USING (node)
    UNION ALL SELECT node, nbr FROM rltwo))""",
        _scored_topk("rlcand", "rlrepaired", K_GRAPH),
    ]


def relink_digest_sql() -> str:
    """Replay the post-delete neighborhood repair: affected = live
    nodes that lost an out-edge to a tombstone; candidates = surviving
    out-edges ∪ the live 2-hop neighborhood through the masked
    undirected adjacency; per-node top-k, build-digest shape."""
    ctes, g = graph_build_ctes()
    joined = ",\n".join([ctes, *_relink_parts(g)])
    return f"""WITH {joined}
SELECT rk,
       CAST(count(*) AS BIGINT) AS n_edges,
       CAST(sum(CAST(round(score * 1e6) AS BIGINT)) AS BIGINT) AS score_sum_micro,
       CAST(sum(nbr) AS BIGINT) AS nbr_id_sum
FROM rlrepaired
GROUP BY rk ORDER BY rk"""


def serve_after_repair_sql(query_id: int = 1, k: int = 5) -> str:
    """Replay build → mask → neighborhood repair → beam walk over the
    REPAIRED graph from live entries — graph_ann.graph_serve_after_repair
    (the persisted repaired index served through GraphEngine). The
    repaired graph swaps every affected node's out-edges for its
    re-ranked top-k (``rlrepaired``) and keeps unaffected live nodes'
    surviving masked edges."""
    from gpu_accelerated_vector_indexing_spark.operators.graph_ann import (
        DELETE_MOD as M,
    )

    ctes, g = graph_build_ctes()
    parts = [
        ctes,
        *_relink_parts(g),
        """rgserve AS (
  SELECT node, nbr FROM rlmask WHERE node NOT IN (SELECT node FROM rlaff)
  UNION ALL SELECT node, nbr FROM rlrepaired)""",
        f"""entd AS (SELECT min(vec_id) AS vec_id FROM e
  WHERE vec_id % {M} <> 0 GROUP BY label)""",
    ]
    bparts, v = _beam_ctes(query_id, "rgserve", ent="entd")
    joined = ",\n".join([*parts, *bparts])
    return (
        f"WITH {joined}\n"
        f"SELECT vec_id, score FROM {v}"
        f" ORDER BY score DESC, vec_id DESC LIMIT {k}"
    )


def index_stats_sql() -> str:
    """One observability row over the replayed build: counts, degree
    reciprocity, exact micro-unit score digest — the graph twin of the
    IVF index-health oracle."""
    ctes, g = graph_build_ctes()
    return f"""WITH {ctes},
gis_rev AS (SELECT nbr AS node, node AS nbr FROM {g}),
gis_recip AS (SELECT node, nbr FROM {g} INTERSECT SELECT node, nbr FROM gis_rev),
gis_stats AS (
  SELECT CAST(count(DISTINCT node) AS BIGINT) AS n_nodes,
         CAST(count(*) AS BIGINT) AS n_edges,
         CAST(sum(CAST(round(score * 1e6) AS BIGINT)) AS BIGINT) AS score_sum_micro,
         CAST(min(CAST(round(score * 1e6) AS BIGINT)) AS BIGINT) AS score_min_micro,
         CAST(max(CAST(round(score * 1e6) AS BIGINT)) AS BIGINT) AS score_max_micro
  FROM {g}),
gis_r AS (SELECT CAST(count(*) AS BIGINT) AS n_reciprocal FROM gis_recip)
SELECT n_nodes, n_edges, n_reciprocal,
       (n_reciprocal * 1000000) // n_edges AS reciprocity_micro,
       score_sum_micro, score_min_micro, score_max_micro
FROM gis_stats CROSS JOIN gis_r"""


def repair_recall_sql(query_id: int = 1, k: int = 5) -> str:
    """Recall@k vs the exact live top-k for the masked walk AND the
    repaired-index walk, in one replay — graph_ann.graph_repair_recall
    (the before/after observability row of the delete story). One build
    replay feeds the masked graph, the repair stages, the repaired
    graph, both walks, and the exact live cut."""
    from gpu_accelerated_vector_indexing_spark.operators.graph_ann import (
        DELETE_MOD as M,
    )

    ctes, g = graph_build_ctes()
    parts = [
        ctes,
        f"""gdel AS (SELECT node, nbr FROM {g}
  WHERE node % {M} <> 0 AND nbr % {M} <> 0)""",
        f"""entd AS (SELECT min(vec_id) AS vec_id FROM e
  WHERE vec_id % {M} <> 0 GROUP BY label)""",
    ]
    m_parts, v_masked = _beam_ctes(query_id, "gdel", suffix="rrm", ent="entd")
    parts += m_parts
    parts += _relink_parts(g)
    parts.append(
        """rgserve AS (
  SELECT node, nbr FROM rlmask WHERE node NOT IN (SELECT node FROM rlaff)
  UNION ALL SELECT node, nbr FROM rlrepaired)"""
    )
    s_parts, v_served = _beam_ctes(query_id, "rgserve", suffix="rrs", ent="entd")
    parts += s_parts
    parts.append(
        f"""rrex AS (
  SELECT en.vec_id FROM en CROSS JOIN qrrm
  WHERE en.vec_id % {M} <> 0
  ORDER BY round(list_dot_product(en.v, qrrm.qv) / (en.nrm * qrrm.qn + 1e-8), 6) DESC,
           en.vec_id DESC LIMIT {k})"""
    )
    for tag, v in (("rrm", v_masked), ("rrs", v_served)):
        parts.append(
            f"""got{tag} AS (
  SELECT vec_id FROM {v} ORDER BY score DESC, vec_id DESC LIMIT {k})"""
        )
    joined = ",\n".join(parts)
    return f"""WITH {joined}
SELECT 'masked' AS method, CAST(count(*) AS BIGINT) AS n_hits,
       round(count(*) / {float(k)}, 6) AS recall
FROM gotrrm WHERE vec_id IN (SELECT vec_id FROM rrex)
UNION ALL
SELECT 'repaired' AS method, CAST(count(*) AS BIGINT) AS n_hits,
       round(count(*) / {float(k)}, 6) AS recall
FROM gotrrs WHERE vec_id IN (SELECT vec_id FROM rrex)
ORDER BY method"""


def merged_beam_sql(
    query_id: int = 0,
    k: int = 5,
    k_graph: int = K_GRAPH,
    build_rounds: int = NN_DESCENT_ROUNDS,
    merge_rounds: int | None = None,
    beam: int = BEAM_WIDTH,
    hops: int = BEAM_HOPS,
) -> str:
    """Replay the FULL shard-merge lifecycle as staged SQL: two
    half-corpus NN-descent builds (prefixed CTE namespaces), the
    id-block cross-seeded merge (graph_ann.merge_graph_shards), the
    fixed descent rounds, and the beam walk through the merged graph —
    the SQL twin of graph_ann.knn_graph_beam_merged."""
    from gpu_accelerated_vector_indexing_spark.operators.graph_ann import MERGE_ROUNDS

    if merge_rounds is None:
        merge_rounds = MERGE_ROUNDS
    halves = []
    for px, par in (("ha_", 0), ("hb_", 1)):
        e_sql = (
            f"{px}e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v"
            f" FROM embeddings WHERE vec_id % 2 = {par})"
        )
        halves.append(graph_build_ctes(k_graph, build_rounds, e_sql=e_sql, prefix=px))
    (ctes_a, g_a), (ctes_b, g_b) = halves
    parts = [
        ctes_a,
        ctes_b,
        E_DEFAULT,
        _EN,
        f"""cross_blk AS (
  SELECT a.vec_id AS node, b.vec_id AS nbr
  FROM e a JOIN e b
    ON (a.vec_id // {SEED_WINDOW}) = (b.vec_id // {SEED_WINDOW})
   AND a.vec_id <> b.vec_id)""",
        f"""m0c AS (
  SELECT DISTINCT node, nbr FROM (
    SELECT node, nbr FROM {g_a}
    UNION ALL SELECT node, nbr FROM {g_b}
    UNION ALL SELECT node, nbr FROM cross_blk
  ))""",
        _scored_topk("m0c", "m0", k_graph),
    ]
    g = "m0"
    for i in range(1, merge_rounds + 1):
        parts.extend(_round_ctes(g, f"mu{i}", f"mp{i}", f"m{i}", k_graph))
        g = f"m{i}"
    parts.append(_ENT)
    bparts, v = _beam_ctes(query_id, g, beam=beam, hops=hops, ent="ent")
    joined = ",\n".join([*parts, *bparts])
    return (
        f"WITH {joined}\n"
        f"SELECT vec_id, score FROM {v}"
        f" ORDER BY score DESC, vec_id DESC LIMIT {k}"
    )


def ndcg_beam_sweep_sql(
    query_id: int = 0, k: int = 5, beams: tuple[int, ...] = (8, 24, 48)
) -> str:
    """One build replay, one walk per beam width, rank-quality metrics
    per width — graph_ann.graph_retrieval_ndcg. Same DECIMAL-exact DCG
    recipe as the IVF oracle (queries/ivf_q._ndcg_at); aggregates
    without GROUP BY so a zero-hit width still emits its row."""
    if not beams or len(set(beams)) != len(beams):
        raise ValueError(f"sweep widths must be non-empty and unique: {beams!r}")
    ctes, g = graph_build_ctes()
    parts = [ctes, _ENT]
    parts.append(f"""idcgx AS (
  SELECT CAST(sum(CAST(round(1.0 / log2(i + 1), 12) AS DECIMAL(38,12))) AS DOUBLE) AS v
  FROM range(1, {k + 1}) t(i))""")
    selects = []
    for b in beams:
        s = f"w{b}"
        bparts, v = _beam_ctes(query_id, g, suffix=s, beam=b)
        parts.extend(bparts)
        parts.append(f"""rnk{s} AS (
  SELECT vec_id, row_number() OVER (ORDER BY score DESC, vec_id DESC) AS rnk
  FROM (SELECT vec_id, score FROM {v} ORDER BY score DESC, vec_id DESC LIMIT {k}))""")
        selects.append(
            f"SELECT {b} AS beam,"
            f" round(count(*) / {k}.0, 6) AS recall,"
            f" round(coalesce(1.0 / min(rnk), 0.0), 6) AS mrr,"
            f" round(coalesce(CAST(sum(CAST(round(1.0 / log2(rnk + 1), 12)"
            f" AS DECIMAL(38,12))) AS DOUBLE), 0.0) / (SELECT v FROM idcgx), 6) AS ndcg"
            f" FROM rnk{s} WHERE vec_id IN (SELECT vec_id FROM gsx)"
        )
    parts.append(f"""gsx AS (
  SELECT en.vec_id FROM en CROSS JOIN qw{beams[0]}
  ORDER BY round(list_dot_product(en.v, qw{beams[0]}.qv) /
                 (en.nrm * qw{beams[0]}.qn + 1e-8), 6) DESC,
           en.vec_id DESC LIMIT {k})""")
    joined = ",\n".join(parts)
    union = "\nUNION ALL\n".join(selects)
    return f"WITH {joined}\n{union}\nORDER BY beam"


def _graph_cdc_serve_parts() -> list[str]:
    """CTE parts ending in the cycle-1 refreshed graph ``gcserve`` +
    its live entries ``entlc`` — the shared front half of the cycle-1
    serve oracle and the gen-2 oracle (which applies a second delta on
    top of ``gcserve``)."""
    from gpu_accelerated_vector_indexing_spark.operators.graph_ann import (
        GRAPH_CDC_ADD_MOD as AM,
        GRAPH_CDC_ADD_REM as AR,
        GRAPH_CDC_CHG_MOD as CM,
        GRAPH_CDC_CHG_REM as CR,
        GRAPH_CDC_DEL_MOD as DM,
        GRAPH_CDC_DEL_REM as DR,
    )

    def dead(c: str) -> str:
        # applied to build-graph endpoints (all in the old snapshot):
        # removed (old-only slice) or changed (vector replaced)
        return f"({c} % {DM} = {DR} OR ({c} % {AM} <> {AR} AND {c} % {CM} = {CR}))"

    def new(c: str) -> str:
        # within the live corpus: added (new-only slice) or changed
        return f"({c} % {AM} = {AR} OR ({c} % {AM} <> {AR} AND {c} % {CM} = {CR}))"
    e_old = (
        f"e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings"
        f" WHERE vec_id % {AM} <> {AR})"
    )
    ctes, g = graph_build_ctes(e_sql=e_old)
    parts = [
        ctes,
        f"""gelive AS (
  SELECT vec_id, label,
         CASE WHEN vec_id % {AM} <> {AR} AND vec_id % {CM} = {CR}
              THEN list_reverse(embedding::DOUBLE[])
              ELSE embedding::DOUBLE[] END AS v
  FROM embeddings WHERE vec_id % {DM} <> {DR})""",
        "enlive AS MATERIALIZED (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM gelive)",
        f"""gcmask AS (
  SELECT node, nbr FROM {g} WHERE NOT {dead('node')} AND NOT {dead('nbr')})""",
        f"""gcaff AS (
  SELECT DISTINCT node FROM {g} WHERE NOT {dead('node')} AND {dead('nbr')})""",
        """gcund AS (
  SELECT node, nbr FROM gcmask UNION ALL SELECT nbr AS node, node AS nbr FROM gcmask)""",
        """gctwo AS (
  SELECT a.node, b.nbr
  FROM gcund a JOIN gcaff USING (node) JOIN gcund b ON a.nbr = b.node
  WHERE b.nbr <> a.node)""",
        """gcrcand AS (
  SELECT DISTINCT node, nbr FROM (
    SELECT m.node, m.nbr FROM gcmask m JOIN gcaff USING (node)
    UNION ALL SELECT node, nbr FROM gctwo))""",
        _scored_topk("gcrcand", "gcrepaired", K_GRAPH, en="enlive"),
        f"""gcranked AS (
  SELECT vec_id, label,
         (row_number() OVER (PARTITION BY label ORDER BY vec_id) - 1) // {SEED_WINDOW} AS cg
  FROM gelive)""",
        f"""gcseed AS (
  SELECT a.vec_id AS node, b.vec_id AS nbr
  FROM gcranked a JOIN gcranked b
    ON a.label = b.label AND a.cg = b.cg AND a.vec_id <> b.vec_id
  WHERE {new('a.vec_id')} AND NOT {new('b.vec_id')}
  UNION
  SELECT a.vec_id AS node, b.vec_id AS nbr
  FROM gelive a JOIN gelive b
    ON (a.vec_id // {SEED_WINDOW}) = (b.vec_id // {SEED_WINDOW})
   AND a.vec_id <> b.vec_id
  WHERE {new('a.vec_id')} AND NOT {new('b.vec_id')})""",
        """gcrefine AS (
  SELECT DISTINCT s.node, gg.nbr
  FROM gcseed s JOIN gcmask gg ON s.nbr = gg.node WHERE s.node <> gg.nbr)""",
        """gcacand AS (
  SELECT DISTINCT node, nbr FROM (
    SELECT node, nbr FROM gcseed UNION ALL SELECT node, nbr FROM gcrefine))""",
        _scored_topk("gcacand", "gcattached", K_GRAPH, en="enlive"),
        """gcserve AS (
  SELECT node, nbr FROM gcmask WHERE node NOT IN (SELECT node FROM gcaff)
  UNION ALL SELECT node, nbr FROM gcrepaired
  UNION ALL SELECT node, nbr FROM gcattached)""",
        "entlc AS (SELECT min(vec_id) AS vec_id FROM gelive GROUP BY label)",
    ]
    return parts


def graph_refresh_cdc_sql(query_id: int, k: int = 5) -> str:
    """Replay the graph CDC refresh end to end: old-snapshot NN-descent
    build → delta mask (removed ∪ changed dead) → neighborhood repair →
    attach of added ∪ changed (changed scored with their REPLACED,
    element-reversed vector) → beam walk over the refreshed graph from
    live entries — graph_ann.cdc_refreshed_graph_index +
    graph_refresh_cdc, stage for stage. Every predicate restates the
    Spark side's modular slices; scoring joins run against the LIVE
    normed corpus exactly where the Spark kernels use it."""
    parts = _graph_cdc_serve_parts()
    bparts, v = _beam_ctes(query_id, "gcserve", suffix="gc", ent="entlc", en="enlive")
    joined = ",\n".join([*parts, *bparts])
    return (
        f"WITH {joined}\n"
        f"SELECT vec_id, score FROM {v}"
        f" ORDER BY score DESC, vec_id DESC LIMIT {k}"
    )


def graph_refresh_cdc_gen2_sql(query_id: int, k: int = 5) -> str:
    """The graph CDC loop LOOPING: everything in
    :func:`graph_refresh_cdc_sql` up to the cycle-1 refreshed graph,
    then the SECOND delta applied on top of it — delta-2 mask
    (removed ∪ changed-again dead, including cycle-1 attaches),
    neighborhood repair and attach over the v3 corpus (twice-changed
    vectors = negate ∘ reverse of the original), then the walk from v3
    entries — graph_ann.cdc_refreshed_graph_index_gen2 +
    graph_refresh_cdc_gen2, stage for stage."""
    from gpu_accelerated_vector_indexing_spark.operators.graph_ann import (
        GRAPH_CDC2_ADD_MOD as A2M,
        GRAPH_CDC2_ADD_REM as A2R,
        GRAPH_CDC2_CHG_MOD as C2M,
        GRAPH_CDC2_CHG_REM as C2R,
        GRAPH_CDC2_DEL_MOD as D2M,
        GRAPH_CDC2_DEL_REM as D2R,
        GRAPH_CDC_ADD_MOD as AM,
        GRAPH_CDC_ADD_REM as AR,
        GRAPH_CDC_CHG_MOD as CM,
        GRAPH_CDC_CHG_REM as CR,
        GRAPH_CDC_DEL_MOD as DM,
        GRAPH_CDC_DEL_REM as DR,
    )

    in_v2 = f"vec_id % {DM} <> {DR}"
    chg2 = f"({in_v2} AND vec_id % {D2M} <> {D2R} AND vec_id % {C2M} = {C2R})"
    in_v3 = (
        f"(({in_v2} AND vec_id % {D2M} <> {D2R})"
        f" OR (vec_id % {DM} = {DR} AND vec_id % {A2M} = {A2R}))"
    )

    def dead2(c: str) -> str:
        # applied to cycle-1 graph endpoints (all v2 members)
        return (
            f"({c} % {DM} <> {DR} AND ({c} % {D2M} = {D2R}"
            f" OR {c} % {C2M} = {C2R}))"
        )

    def new2(c: str) -> str:
        # within the v3 corpus: re-added (not a v2 member) or changed
        return (
            f"({c} % {DM} = {DR}"
            f" OR ({c} % {D2M} <> {D2R} AND {c} % {C2M} = {C2R}))"
        )

    v2_vec = (
        f"CASE WHEN vec_id % {AM} <> {AR} AND vec_id % {DM} <> {DR}"
        f" AND vec_id % {CM} = {CR}"
        f" THEN list_reverse(embedding::DOUBLE[])"
        f" ELSE embedding::DOUBLE[] END"
    )
    parts = _graph_cdc_serve_parts()
    parts += [
        f"""gelive3 AS (
  SELECT vec_id, label,
         CASE WHEN {chg2} THEN list_transform({v2_vec}, x -> -x)
              ELSE {v2_vec} END AS v
  FROM embeddings WHERE {in_v3})""",
        "enlive3 AS MATERIALIZED (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM gelive3)",
        f"""g2mask AS (
  SELECT node, nbr FROM gcserve WHERE NOT {dead2('node')} AND NOT {dead2('nbr')})""",
        f"""g2aff AS (
  SELECT DISTINCT node FROM gcserve WHERE NOT {dead2('node')} AND {dead2('nbr')})""",
        """g2und AS (
  SELECT node, nbr FROM g2mask UNION ALL SELECT nbr AS node, node AS nbr FROM g2mask)""",
        """g2two AS (
  SELECT a.node, b.nbr
  FROM g2und a JOIN g2aff USING (node) JOIN g2und b ON a.nbr = b.node
  WHERE b.nbr <> a.node)""",
        """g2rcand AS (
  SELECT DISTINCT node, nbr FROM (
    SELECT m.node, m.nbr FROM g2mask m JOIN g2aff USING (node)
    UNION ALL SELECT node, nbr FROM g2two))""",
        _scored_topk("g2rcand", "g2repaired", K_GRAPH, en="enlive3"),
        f"""g2ranked AS (
  SELECT vec_id, label,
         (row_number() OVER (PARTITION BY label ORDER BY vec_id) - 1) // {SEED_WINDOW} AS cg
  FROM gelive3)""",
        f"""g2seed AS (
  SELECT a.vec_id AS node, b.vec_id AS nbr
  FROM g2ranked a JOIN g2ranked b
    ON a.label = b.label AND a.cg = b.cg AND a.vec_id <> b.vec_id
  WHERE {new2('a.vec_id')} AND NOT {new2('b.vec_id')}
  UNION
  SELECT a.vec_id AS node, b.vec_id AS nbr
  FROM gelive3 a JOIN gelive3 b
    ON (a.vec_id // {SEED_WINDOW}) = (b.vec_id // {SEED_WINDOW})
   AND a.vec_id <> b.vec_id
  WHERE {new2('a.vec_id')} AND NOT {new2('b.vec_id')})""",
        """g2refine AS (
  SELECT DISTINCT s.node, gg.nbr
  FROM g2seed s JOIN g2mask gg ON s.nbr = gg.node WHERE s.node <> gg.nbr)""",
        """g2acand AS (
  SELECT DISTINCT node, nbr FROM (
    SELECT node, nbr FROM g2seed UNION ALL SELECT node, nbr FROM g2refine))""",
        _scored_topk("g2acand", "g2attached", K_GRAPH, en="enlive3"),
        """g2serve AS (
  SELECT node, nbr FROM g2mask WHERE node NOT IN (SELECT node FROM g2aff)
  UNION ALL SELECT node, nbr FROM g2repaired
  UNION ALL SELECT node, nbr FROM g2attached)""",
        "entl3 AS (SELECT min(vec_id) AS vec_id FROM gelive3 GROUP BY label)",
    ]
    bparts, v = _beam_ctes(query_id, "g2serve", suffix="g2", ent="entl3", en="enlive3")
    joined = ",\n".join([*parts, *bparts])
    return (
        f"WITH {joined}\n"
        f"SELECT vec_id, score FROM {v}"
        f" ORDER BY score DESC, vec_id DESC LIMIT {k}"
    )
