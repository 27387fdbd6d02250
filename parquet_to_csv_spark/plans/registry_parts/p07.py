"""Registry segment 7/13 — mechanically split from the
round-4 plans/registry.py (12k lines). QUERIES insertion order is
load-bearing (the driver's correctness window samples the first 50
entries), so each segment imports its predecessor: importing ANY
segment executes the full prefix in the original order.
"""
from __future__ import annotations

from parquet_to_csv_spark.plans.registry_core import (QUERIES, ORACLES, query)  # noqa: F401
from parquet_to_csv_spark.plans.registry_parts import p06 as _prev_segment  # noqa: F401
from parquet_to_csv_spark.plans.registry_parts.p01 import (  # noqa: F401
    _TOKS,
    _duck_cos,
    dedup,
    duck_units,
    pandas_ops,
    rangejoin,
    relational,
    similarity,
    timeops,
)
from parquet_to_csv_spark.plans.registry_parts.p02 import _layout, _stream, corpus  # noqa: F401
from parquet_to_csv_spark.plans.registry_parts.p03 import mlmetrics  # noqa: F401
from parquet_to_csv_spark.plans.registry_parts.p04 import _text  # noqa: F401



def _dimcorr_oracle(n_dims: int = 16) -> str:
    qs = ", ".join(
        f"CAST(round(CAST(embedding[{i + 1}] AS DOUBLE) * 10000) AS BIGINT) AS q{i}"
        for i in range(n_dims)
    )
    aggs = ["count(*) AS n"]
    for i in range(n_dims):
        aggs.append(f"sum(q{i}) AS s{i}")
        aggs.append(f"sum(q{i} * q{i}) AS s{i}_{i}")
    for i in range(n_dims):
        for j in range(i + 1, n_dims):
            aggs.append(f"sum(q{i} * q{j}) AS s{i}_{j}")
    rows = []
    for i in range(n_dims):
        for j in range(i + 1, n_dims):
            num = (
                f"(CAST(n AS DOUBLE) * CAST(s{i}_{j} AS DOUBLE)"
                f" - CAST(s{i} AS DOUBLE) * CAST(s{j} AS DOUBLE))"
            )
            den = (
                f"sqrt((CAST(n AS DOUBLE) * CAST(s{i}_{i} AS DOUBLE)"
                f" - CAST(s{i} AS DOUBLE) * CAST(s{i} AS DOUBLE))"
                f" * (CAST(n AS DOUBLE) * CAST(s{j}_{j} AS DOUBLE)"
                f" - CAST(s{j} AS DOUBLE) * CAST(s{j} AS DOUBLE)))"
            )
            rows.append(
                f"SELECT CAST({i} AS BIGINT) AS d1, CAST({j} AS BIGINT) AS d2,"
                f" CAST(floor({num} / {den} * 1000000.0) AS BIGINT) AS corr_micro"
                f" FROM s"
            )
    union = "\nUNION ALL\n".join(rows)
    return (
        f"WITH base AS (SELECT {qs} FROM embeddings),\n"
        f"s AS (SELECT {', '.join(aggs)} FROM base)\n" + union
    )


ORACLES["embedding_dim_correlation"] = _dimcorr_oracle()

QUERIES["mrr_label_match"] = similarity.mrr_label_match
ORACLES["mrr_label_match"] = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS q_emb, label AS q_label
  FROM embeddings WHERE vec_id < 5
), c AS (
  SELECT vec_id AS cand_id, embedding AS c_emb, label AS c_label
  FROM embeddings
), scored AS (
  SELECT query_id, q_label, cand_id, c_label,
         {_duck_cos('q_emb', 'c_emb')} AS sim
  FROM q JOIN c ON query_id <> cand_id
), ranked AS (
  SELECT query_id, q_label, c_label,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, cand_id ASC) AS rnk
  FROM scored
), topk AS (
  SELECT * FROM ranked WHERE rnk <= 10
)
SELECT query_id, q_label,
       min(CASE WHEN q_label = c_label THEN rnk END) AS first_rel_rank,
       coalesce(1000000 // min(CASE WHEN q_label = c_label THEN rnk END), 0)
         AS rr_micro
FROM topk GROUP BY 1, 2
"""

# --------------------------------------------------------------------------
# EXT E216-E217 — IVF nprobe sweep, dead-stock report
# --------------------------------------------------------------------------

QUERIES["ivf_nprobe_sweep"] = similarity.ivf_nprobe_sweep


def _ivf_sweep_oracle(probes=(1, 2, 4), k=5) -> str:
    shared = f"""
WITH cents AS (
  SELECT vec_id AS cell_id, embedding AS cent_emb FROM embeddings WHERE vec_id < 16
), asg AS (
  SELECT vec_id, embedding, cell FROM (
    SELECT e.vec_id, e.embedding, c.cell_id AS cell,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_duck_cos('e.embedding', 'c.cent_emb')} DESC, c.cell_id ASC
           ) AS rn
    FROM embeddings e CROSS JOIN cents c
  ) WHERE rn = 1
), q AS (
  SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings WHERE vec_id < 5
), probe_rank AS (
  SELECT query_id, q_emb, cell, rn FROM (
    SELECT q.query_id, q.q_emb, c.cell_id AS cell,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY {_duck_cos('q.q_emb', 'c.cent_emb')} DESC, c.cell_id ASC
           ) AS rn
    FROM q CROSS JOIN cents c
  ) WHERE rn <= {max(probes)}
), exact AS (
  SELECT query_id, e_cand FROM (
    SELECT qq.query_id, c.vec_id AS e_cand,
           row_number() OVER (
             PARTITION BY qq.query_id
             ORDER BY {_duck_cos('qq.q_emb', 'c.embedding')} DESC, c.vec_id ASC
           ) AS rnk
    FROM q qq JOIN embeddings c ON qq.query_id <> c.vec_id
  ) WHERE rnk <= {k}
)"""
    levels = []
    for np_ in probes:
        levels.append(f"""
SELECT CAST({np_} AS BIGINT) AS nprobe,
       (SELECT count(*) FROM exact e JOIN (
          SELECT query_id, cand_id FROM (
            SELECT p.query_id, a.vec_id AS cand_id,
                   row_number() OVER (
                     PARTITION BY p.query_id
                     ORDER BY {_duck_cos('p.q_emb', 'a.embedding')} DESC, a.vec_id ASC
                   ) AS rnk
            FROM probe_rank p JOIN asg a ON p.cell = a.cell
            WHERE p.query_id <> a.vec_id AND p.rn <= {np_}
          ) WHERE rnk <= {k}
        ) a ON e.query_id = a.query_id AND e.e_cand = a.cand_id) AS n_hits,
       (SELECT count(*) FROM exact) AS n_expected""")
    body = "\nUNION ALL\n".join(levels)
    return (
        shared
        + f"\nSELECT nprobe, n_hits, n_expected,"
        f" n_hits * 1000000 // n_expected AS recall_ppm FROM ({body})"
    )


ORACLES["ivf_nprobe_sweep"] = _ivf_sweep_oracle()

QUERIES["dead_stock_parts"] = relational.dead_stock_parts
ORACLES["dead_stock_parts"] = """
WITH anchor AS (
  SELECT max(l_shipdate) AS max_ship FROM lineitem
), recent AS (
  SELECT DISTINCT l_partkey FROM lineitem, anchor
  WHERE l_shipdate >= max_ship - INTERVAL 90 DAY
), dead AS (
  SELECT p_brand, count(*) AS n_dead FROM part
  WHERE p_partkey NOT IN (SELECT l_partkey FROM recent)
  GROUP BY 1
), tot AS (
  SELECT p_brand, count(*) AS n_parts FROM part GROUP BY 1
)
SELECT t.p_brand, t.n_parts, coalesce(d.n_dead, 0) AS n_dead,
       coalesce(d.n_dead, 0) * 1000000 // t.n_parts AS dead_ppm
FROM tot t LEFT JOIN dead d USING (p_brand)
"""

# --------------------------------------------------------------------------
# EXT E218-E219 — winsorization report, transition entropy
# --------------------------------------------------------------------------

QUERIES["winsorize_values"] = mlmetrics.winsorize_values
ORACLES["winsorize_values"] = f"""
WITH e AS (
  SELECT event_type, {duck_units("value", 2)} AS cents FROM events
), ranked AS (
  SELECT event_type, cents,
         row_number() OVER (PARTITION BY event_type ORDER BY cents) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM e
), thr AS (
  SELECT event_type,
         max(CASE WHEN rn = CAST(floor(CAST(n - 1 AS DOUBLE) * 0.01) AS BIGINT) + 1
                  THEN cents END) AS lo,
         max(CASE WHEN rn = CAST(floor(CAST(n - 1 AS DOUBLE) * 0.99) AS BIGINT) + 1
                  THEN cents END) AS hi
  FROM ranked GROUP BY 1
)
SELECT e.event_type, count(*) AS n_events,
       max(lo) AS lo_cents, max(hi) AS hi_cents,
       sum(CASE WHEN cents < lo THEN 1 ELSE 0 END) AS n_clipped_lo,
       sum(CASE WHEN cents > hi THEN 1 ELSE 0 END) AS n_clipped_hi,
       sum(CASE WHEN cents < lo THEN lo - cents ELSE 0 END) AS excess_lo_cents,
       sum(CASE WHEN cents > hi THEN cents - hi ELSE 0 END) AS excess_hi_cents,
       sum(greatest(least(cents, hi), lo)) AS winsorized_sum_cents
FROM e JOIN thr ON e.event_type = thr.event_type
GROUP BY 1
"""

QUERIES["transition_entropy"] = timeops.transition_entropy
ORACLES["transition_entropy"] = """
WITH e AS (
  SELECT user_id, event_type, epoch_us(ts) AS tus, event_id FROM events
), trans AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY tus, event_id) AS to_type
  FROM e
), c AS (
  SELECT from_type, to_type, count(*) AS n_transitions
  FROM trans WHERE to_type IS NOT NULL GROUP BY 1, 2
), t AS (
  SELECT from_type, sum(n_transitions) AS t, count(*) AS n_to_types,
         max(n_transitions) AS mx
  FROM c GROUP BY 1
), ent AS (
  SELECT c.from_type, max(t.t) AS n_transitions, max(t.n_to_types) AS n_to_types,
         sum(c.n_transitions
             * CAST(round(ln(CAST(c.n_transitions AS DOUBLE)
                            / CAST(t.t AS DOUBLE)) * -1000000, 0) AS BIGINT))
           AS sum_units
  FROM c JOIN t ON c.from_type = t.from_type GROUP BY 1
), md AS (
  SELECT c.from_type, min(c.to_type) AS mode_to_type
  FROM c JOIN t ON c.from_type = t.from_type AND c.n_transitions = t.mx
  GROUP BY 1
)
SELECT ent.from_type, ent.n_transitions, ent.n_to_types, md.mode_to_type,
       ent.sum_units // ent.n_transitions AS entropy_micro
FROM ent JOIN md ON ent.from_type = md.from_type
"""

# --------------------------------------------------------------------------
# EXT E220-E221 — Poisson bootstrap CI, survivorship merge
# --------------------------------------------------------------------------

QUERIES["poisson_bootstrap_ci"] = mlmetrics.poisson_bootstrap_ci
_PB_U = corpus.duck_md5_bucket("event_id * 32 + b", 10000)
ORACLES["poisson_bootstrap_ci"] = f"""
WITH reps AS (
  SELECT event_type, {duck_units("value", 2)} AS cents, event_id,
         unnest(generate_series(0, 31)) AS b
  FROM events
), weighted AS (
  SELECT event_type, b, cents,
         CASE WHEN {_PB_U} < 3679 THEN 0
              WHEN {_PB_U} < 7358 THEN 1
              WHEN {_PB_U} < 9197 THEN 2
              WHEN {_PB_U} < 9810 THEN 3
              ELSE 4 END AS w
  FROM reps
), rep_means AS (
  SELECT event_type, b,
         (sum(w * cents) * 100) // sum(w) AS mean_units
  FROM weighted GROUP BY 1, 2
), ranked AS (
  SELECT event_type, b, mean_units,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY mean_units, b) AS rn
  FROM rep_means
)
SELECT event_type, count(*) AS n_replicates,
       max(CASE WHEN rn = 1 THEN mean_units END) AS lo_mean_units,
       max(CASE WHEN rn = 31 THEN mean_units END) AS hi_mean_units
FROM ranked GROUP BY 1
"""

QUERIES["survivorship_merge"] = dedup.survivorship_merge
ORACLES["survivorship_merge"] = f"""
SELECT md5(array_to_string(list_sort(list_distinct({_TOKS})), ' ')) AS fingerprint,
       count(*) AS n_members,
       min(doc_id) AS canonical_id,
       max(n_chars) AS best_n_chars,
       count(DISTINCT lang) AS n_langs,
       array_to_string(list_sort(list(DISTINCT source)), ',') AS sources
FROM documents
GROUP BY 1
HAVING count(*) >= 2
"""

# --------------------------------------------------------------------------
# EXT E222-E223 — bounded funnel, k-core decomposition
# --------------------------------------------------------------------------

QUERIES["bounded_funnel"] = timeops.bounded_funnel
ORACLES["bounded_funnel"] = """
WITH e AS (
  SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us FROM events
), staged AS (
  SELECT user_id,
         CASE WHEN event_type = 'view' THEN ts_us END AS v_ts,
         CASE WHEN event_type = 'click'
                   AND ts_us >= min(CASE WHEN event_type = 'view' THEN ts_us END)
                       OVER w
                   AND ts_us <= min(CASE WHEN event_type = 'view' THEN ts_us END)
                       OVER w + 3600000000
              THEN ts_us END AS c_ts,
         ts_us, event_type, event_id
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), staged2 AS (
  SELECT user_id, v_ts, c_ts,
         CASE WHEN event_type = 'purchase'
                   AND ts_us >= min(c_ts) OVER w2
                   AND ts_us <= min(c_ts) OVER w2 + 86400000000
              THEN ts_us END AS p_ts
  FROM staged
  WINDOW w2 AS (PARTITION BY user_id ORDER BY ts_us, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), agg AS (
  SELECT user_id, min(v_ts) AS tv, min(c_ts) AS tc, min(p_ts) AS tp
  FROM staged2 GROUP BY 1
)
SELECT sum(CASE WHEN tv IS NOT NULL THEN 1 ELSE 0 END) AS n_view_users,
       sum(CASE WHEN tc IS NOT NULL THEN 1 ELSE 0 END) AS n_click_1h,
       sum(CASE WHEN tp IS NOT NULL THEN 1 ELSE 0 END) AS n_purchase_24h,
       sum(CASE WHEN tc IS NOT NULL THEN 1 ELSE 0 END) * 1000000
         // sum(CASE WHEN tv IS NOT NULL THEN 1 ELSE 0 END) AS view_to_click_ppm,
       sum(CASE WHEN tp IS NOT NULL THEN 1 ELSE 0 END) * 1000000
         // sum(CASE WHEN tc IS NOT NULL THEN 1 ELSE 0 END) AS click_to_purchase_ppm
FROM agg
"""

QUERIES["kcore_decomposition"] = dedup.kcore_decomposition
_KCORE_EDGES = f"""
  SELECT a.doc_id AS a, b.doc_id AS b
  FROM (SELECT doc_id, lang, source, list_distinct({_TOKS}) AS toks FROM documents) a
  JOIN (SELECT doc_id, lang, source, list_distinct({_TOKS}) AS toks FROM documents) b
    ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
  WHERE round(len(list_intersect(a.toks, b.toks))
             / CAST(len(list_distinct(list_concat(a.toks, b.toks))) AS DOUBLE), 4) >= 0.8
"""


def _kcore_oracle(k: int = 2, rounds: int = 3) -> str:
    sql = f"WITH e0 AS ({_KCORE_EDGES})"
    prev = "e0"
    for r in range(rounds):
        sql += f""",
d{r} AS (
  SELECT node, count(*) AS d FROM (
    SELECT a AS node FROM {prev} UNION ALL SELECT b AS node FROM {prev}
  ) GROUP BY 1
), k{r} AS (SELECT node FROM d{r} WHERE d >= {k}),
e{r + 1} AS (
  SELECT a, b FROM {prev}
  WHERE a IN (SELECT node FROM k{r}) AND b IN (SELECT node FROM k{r})
)"""
        prev = f"e{r + 1}"
    sql += f"""
SELECT node AS doc_id, count(*) AS core_degree FROM (
  SELECT a AS node FROM {prev} UNION ALL SELECT b AS node FROM {prev}
) GROUP BY 1"""
    return sql


ORACLES["kcore_decomposition"] = _kcore_oracle()

# --------------------------------------------------------------------------
# EXT E224-E225 — quantile normalization, order consolidation pairs
# --------------------------------------------------------------------------

QUERIES["quantile_normalize_lengths"] = corpus.quantile_normalize_lengths
ORACLES["quantile_normalize_lengths"] = """
WITH d AS (
  SELECT doc_id, source, n_chars FROM documents
), g AS (
  SELECT n_chars AS g_chars,
         row_number() OVER (ORDER BY n_chars, doc_id) AS grn
  FROM d
), sn AS (
  SELECT source, count(*) AS n_src FROM d GROUP BY 1
), nt AS (
  SELECT count(*) AS n_tot FROM d
), per_doc AS (
  SELECT d.doc_id, d.source, d.n_chars,
         (row_number() OVER (PARTITION BY d.source ORDER BY d.n_chars, d.doc_id)
          - 1) * nt.n_tot // sn.n_src + 1 AS grn
  FROM d JOIN sn USING (source) CROSS JOIN nt
)
SELECT p.doc_id, p.source, p.n_chars, g.g_chars AS qn_chars
FROM per_doc p JOIN g USING (grn)
"""

QUERIES["order_consolidation_pairs"] = rangejoin.order_consolidation_pairs
ORACLES["order_consolidation_pairs"] = f"""
SELECT a.o_custkey, a.o_orderkey AS order_a, b.o_orderkey AS order_b,
       abs(epoch_ms(a.o_orderdate) - epoch_ms(b.o_orderdate)) // 86400000
         AS gap_days,
       ({duck_units("a.o_totalprice", 2)} + {duck_units("b.o_totalprice", 2)})
         / 100.0 AS combined_value
FROM orders a JOIN orders b
  ON a.o_custkey = b.o_custkey AND a.o_orderkey < b.o_orderkey
 AND abs(epoch_ms(a.o_orderdate) - epoch_ms(b.o_orderdate)) <= 86400000
"""

# --------------------------------------------------------------------------
# EXT E226-E227 — A/A calibration, mutual nearest neighbors
# --------------------------------------------------------------------------

QUERIES["aa_test_calibration"] = mlmetrics.aa_test_calibration
_AA_Z = (
    "(CAST(x1 AS DOUBLE) / CAST(n1 AS DOUBLE)"
    " - CAST(x2 AS DOUBLE) / CAST(n2 AS DOUBLE))"
    " / sqrt((CAST(x1 + x2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))"
    " * (1.0 - CAST(x1 + x2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))"
    " * (1.0 / CAST(n1 AS DOUBLE) + 1.0 / CAST(n2 AS DOUBLE)))"
)
ORACLES["aa_test_calibration"] = f"""
WITH firsts AS (
  SELECT user_id, event_type,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY epoch_us(ts), event_id) AS rn
  FROM events
), users AS (
  SELECT user_id,
         max(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS converted
  FROM firsts WHERE rn = 1 GROUP BY 1
), buckets AS (
  SELECT {corpus.duck_md5_bucket("user_id", 10)} AS bucket,
         count(*) AS n, sum(converted) AS x
  FROM users GROUP BY 1
), a AS (
  SELECT bucket // 2 AS pair, n AS n1, x AS x1 FROM buckets WHERE bucket % 2 = 0
), b AS (
  SELECT bucket // 2 AS pair, n AS n2, x AS x2 FROM buckets WHERE bucket % 2 = 1
)
SELECT pair, n1, x1, n2, x2,
       x1 * 1000000 // n1 AS cvr1_ppm,
       x2 * 1000000 // n2 AS cvr2_ppm,
       CAST(floor({_AA_Z} * 1000.0) AS BIGINT) AS z_milli,
       CASE WHEN abs({_AA_Z}) > 1.96 THEN 1 ELSE 0 END AS false_positive
FROM a JOIN b USING (pair)
WHERE x1 + x2 > 0 AND x1 + x2 < n1 + n2
"""

QUERIES["mutual_nn_pairs"] = similarity.mutual_nn_pairs
ORACLES["mutual_nn_pairs"] = f"""
WITH a AS (
  SELECT vec_id AS a_id, embedding AS a_emb, label FROM embeddings WHERE vec_id % 2 = 0
), b AS (
  SELECT vec_id AS b_id, embedding AS b_emb, label FROM embeddings WHERE vec_id % 2 = 1
), scored AS (
  SELECT a.label, a_id, b_id, {_duck_cos('a_emb', 'b_emb')} AS sim
  FROM a JOIN b USING (label)
), nn_ab AS (
  SELECT a_id, b_id AS nn_b, sim AS sim_ab FROM (
    SELECT a_id, b_id, sim,
           row_number() OVER (PARTITION BY a_id ORDER BY sim DESC, b_id ASC) AS rn
    FROM scored
  ) WHERE rn = 1
), nn_ba AS (
  SELECT b_id, a_id AS nn_a FROM (
    SELECT b_id, a_id, sim,
           row_number() OVER (PARTITION BY b_id ORDER BY sim DESC, a_id ASC) AS rn
    FROM scored
  ) WHERE rn = 1
)
SELECT ab.a_id, ba.b_id, round(ab.sim_ab, 6) AS cosine
FROM nn_ab ab JOIN nn_ba ba
  ON ab.nn_b = ba.b_id AND ba.nn_a = ab.a_id
"""

# --------------------------------------------------------------------------
# EXT E228-E229 — price consistency, Jaccard threshold profile
# --------------------------------------------------------------------------

QUERIES["price_consistency_audit"] = relational.price_consistency_audit
ORACLES["price_consistency_audit"] = f"""
WITH unit AS (
  SELECT l_partkey,
         ({duck_units("l_extendedprice", 2)} * 100)
           // {duck_units("l_quantity", 2)} AS x
  FROM lineitem
), s AS (
  SELECT l_partkey, count(*) AS n_lines, sum(x) AS sx, sum(x * x) AS sxx
  FROM unit GROUP BY 1
)
SELECT l_partkey, n_lines,
       sx // n_lines AS mean_unit_cents,
       CAST(floor((CAST(n_lines AS DOUBLE) * CAST(sxx AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                  / (CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                  * 1000000.0) AS BIGINT) AS dispersion_ppm
FROM s WHERE n_lines >= 5
ORDER BY dispersion_ppm DESC, l_partkey ASC
LIMIT 15
"""

QUERIES["jaccard_threshold_profile"] = dedup.jaccard_threshold_profile
_JTP_PAIRS = f"""
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         round(len(list_intersect(a.toks, b.toks))
               / CAST(len(list_distinct(list_concat(a.toks, b.toks))) AS DOUBLE), 4)
           AS jaccard
  FROM (SELECT doc_id, lang, source, list_distinct({_TOKS}) AS toks FROM documents) a
  JOIN (SELECT doc_id, lang, source, list_distinct({_TOKS}) AS toks FROM documents) b
    ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
  WHERE round(len(list_intersect(a.toks, b.toks))
               / CAST(len(list_distinct(list_concat(a.toks, b.toks))) AS DOUBLE), 4) >= 0.7
"""


def _jtp_oracle(thresholds=(0.7, 0.8, 0.9)) -> str:
    levels = []
    for t in thresholds:
        levels.append(f"""
SELECT CAST({int(round(t * 100))} AS BIGINT) AS threshold_pct,
       coalesce(sum(dg), 0) // 2 AS n_pairs,
       count(*) AS n_docs,
       coalesce(max(dg), 0) AS max_degree
FROM (
  SELECT d, count(*) AS dg FROM (
    SELECT doc_a AS d FROM pairs WHERE jaccard >= {t}
    UNION ALL
    SELECT doc_b AS d FROM pairs WHERE jaccard >= {t}
  ) GROUP BY 1
)""")
    return f"WITH pairs AS ({_JTP_PAIRS})\n" + "\nUNION ALL\n".join(levels)


ORACLES["jaccard_threshold_profile"] = _jtp_oracle()

# --------------------------------------------------------------------------
# EXT E230-E231 — skip-gram PMI, watermark lateness profile
# --------------------------------------------------------------------------

QUERIES["skipgram_pmi"] = _text.skipgram_pmi
_SG_U = "CAST(round(ln(CAST({c} AS DOUBLE)) * 1000000) AS BIGINT)"
ORACLES["skipgram_pmi"] = f"""
WITH tok AS (
  SELECT {_TOKS} AS toks FROM documents
), pairs AS (
  SELECT p[1] AS w1, p[2] AS w2 FROM (
    SELECT unnest(list_zip(list_slice(toks, 1, greatest(len(toks) - 1, 0)),
                           list_slice(toks, 2, len(toks)))) AS p FROM tok
    UNION ALL
    SELECT unnest(list_zip(list_slice(toks, 1, greatest(len(toks) - 2, 0)),
                           list_slice(toks, 3, len(toks)))) AS p FROM tok
    UNION ALL
    SELECT unnest(list_zip(list_slice(toks, 1, greatest(len(toks) - 3, 0)),
                           list_slice(toks, 4, len(toks)))) AS p FROM tok
  ) WHERE p[1] IS NOT NULL AND p[2] IS NOT NULL
), pc AS (
  SELECT w1, w2, count(*) AS c FROM pairs GROUP BY 1, 2
), l AS (
  SELECT w1, sum(c) AS cl FROM pc GROUP BY 1
), r AS (
  SELECT w2, sum(c) AS cr FROM pc GROUP BY 1
), t AS (
  SELECT sum(c) AS t FROM pc
)
SELECT w1, w2, c,
       {_SG_U.format(c='c')} + {_SG_U.format(c='t')}
         - {_SG_U.format(c='cl')} - {_SG_U.format(c='cr')} AS pmi_micro
FROM pc JOIN l USING (w1) JOIN r USING (w2) CROSS JOIN t
WHERE c >= 30
ORDER BY pmi_micro DESC, w1 ASC, w2 ASC
LIMIT 20
"""

QUERIES["late_event_profile"] = timeops.late_event_profile


def _late_oracle(lateness=(0, 300_000, 1_800_000)) -> str:
    levels = []
    for lat in lateness:
        levels.append(f"""
SELECT CAST({lat} AS BIGINT) AS lateness_ms,
       count(*) AS n_events,
       sum(CASE WHEN ts_ms < wm_base - {lat} THEN 1 ELSE 0 END) AS n_late,
       sum(CASE WHEN ts_ms < wm_base - {lat} THEN 1 ELSE 0 END) * 1000000
         // count(*) AS late_ppm
FROM run""")
    jitter = corpus.duck_md5_bucket("event_id", 600_000)
    return (
        f"""WITH e AS (
  SELECT event_id, epoch_ms(ts) AS ts_ms,
         epoch_ms(ts) + {jitter} AS arr_ms
  FROM events
), run AS (
  SELECT event_id, ts_ms,
         coalesce(max(ts_ms) OVER (ORDER BY arr_ms, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND 1 PRECEDING),
                  -4611686018427387904) AS wm_base
  FROM e
)"""
        + "\nUNION ALL\n".join(levels)
    )


ORACLES["late_event_profile"] = _late_oracle()

# --------------------------------------------------------------------------
# EXT E232-E233 — TF-IDF cosine join, fixed-budget quota sample
# --------------------------------------------------------------------------

QUERIES["tfidf_cosine_pairs"] = _text.tfidf_cosine_pairs
ORACLES["tfidf_cosine_pairs"] = f"""
WITH pairs AS (
  SELECT doc_id, unnest({_TOKS}) AS term FROM documents
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM pairs GROUP BY 1, 2
), df AS (
  SELECT term, count(*) AS df_docs FROM tf GROUP BY 1
), nn AS (
  SELECT count(*) AS n_docs FROM documents
), w AS (
  SELECT tf.term, tf.doc_id,
         tf.tf * CAST(round(ln(CAST(n_docs AS DOUBLE) / CAST(df_docs AS DOUBLE))
                            * 1000) AS BIGINT) AS wt
  FROM tf JOIN df USING (term) CROSS JOIN nn
  WHERE df_docs <= 50
), norms AS (
  SELECT doc_id, sum(wt * wt) AS nrm2 FROM w GROUP BY 1
), dots AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, sum(a.wt * b.wt) AS dot
  FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(CAST(dot AS DOUBLE)
             / (sqrt(CAST(na.nrm2 AS DOUBLE)) * sqrt(CAST(nb.nrm2 AS DOUBLE))), 6)
         AS cosine
FROM dots
JOIN norms na ON dots.doc_a = na.doc_id
JOIN norms nb ON dots.doc_b = nb.doc_id
WHERE round(CAST(dot AS DOUBLE)
            / (sqrt(CAST(na.nrm2 AS DOUBLE)) * sqrt(CAST(nb.nrm2 AS DOUBLE))), 6)
      >= 0.3
"""

QUERIES["group_quota_sample"] = corpus.group_quota_sample
ORACLES["group_quota_sample"] = """
WITH strata AS (
  SELECT lang, count(*) AS n_docs FROM documents GROUP BY 1
), tot AS (
  SELECT sum(n_docs) AS n_tot FROM strata
), base AS (
  SELECT lang, n_docs,
         n_docs * 100 // n_tot AS floor_q,
         n_docs * 100 % n_tot AS rem
  FROM strata CROSS JOIN tot
), alloc AS (
  SELECT lang, n_docs, floor_q, rem,
         row_number() OVER (ORDER BY rem DESC, lang ASC) AS rrank,
         100 - sum(floor_q) OVER () AS short
  FROM base
), quotas AS (
  SELECT lang, n_docs,
         floor_q + CASE WHEN rrank <= short THEN 1 ELSE 0 END AS quota
  FROM alloc
), drawn AS (
  SELECT d.lang, count(*) AS n_sampled, min(d.doc_id) AS first_doc
  FROM (
    SELECT lang, doc_id,
           row_number() OVER (PARTITION BY lang
                              ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS dr
    FROM documents
  ) d JOIN quotas q ON d.lang = q.lang AND d.dr <= q.quota
  GROUP BY 1
)
SELECT q.lang, q.n_docs, q.quota,
       coalesce(drawn.n_sampled, 0) AS n_sampled, drawn.first_doc
FROM quotas q LEFT JOIN drawn USING (lang)
"""

# --------------------------------------------------------------------------
# EXT E234-E235 — Holt forecast, blocking recall audit
# --------------------------------------------------------------------------

QUERIES["holt_linear_forecast"] = pandas_ops.holt_linear_forecast
ORACLES["holt_linear_forecast"] = f"""
WITH RECURSIVE daily AS (
  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
         CAST(sum({duck_units("value", 2)}) AS DOUBLE) AS y
  FROM events GROUP BY 1, 2
), seq AS (
  SELECT event_type, day, y,
         row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n_days
  FROM daily
), init AS (
  SELECT s1.event_type, s1.n_days, CAST(1 AS BIGINT) AS rn,
         s1.y AS lvl, s2.y - s1.y AS tr, CAST(0.0 AS DOUBLE) AS sse
  FROM seq s1 JOIN seq s2
    ON s1.event_type = s2.event_type AND s1.rn = 1 AND s2.rn = 2
), r AS (
  SELECT * FROM init
  UNION ALL
  SELECT s.event_type, r.n_days, s.rn,
         0.5 * s.y + 0.5 * (r.lvl + r.tr) AS lvl,
         0.3 * ((0.5 * s.y + 0.5 * (r.lvl + r.tr)) - r.lvl) + 0.7 * r.tr AS tr,
         r.sse + (s.y - (r.lvl + r.tr)) * (s.y - (r.lvl + r.tr)) AS sse
  FROM seq s JOIN r ON s.event_type = r.event_type AND s.rn = r.rn + 1
)
SELECT event_type, n_days,
       round(lvl / 100.0, 4) AS level_v,
       round(tr / 100.0, 4) AS trend_v,
       round((lvl + tr) / 100.0, 4) AS forecast_v,
       round(sse / 10000.0, 2) AS sse_v2
FROM r WHERE rn = n_days
"""

QUERIES["blocking_recall_audit"] = dedup.blocking_recall_audit
ORACLES["blocking_recall_audit"] = f"""
WITH sample AS (
  SELECT doc_id, lang, source, list_distinct({_TOKS}) AS toks
  FROM documents
  WHERE {corpus.duck_md5_bucket("doc_id", 100)} < 10
), pairs AS (
  SELECT round(len(list_intersect(a.toks, b.toks))
               / CAST(len(a.toks) + len(b.toks)
                      - len(list_intersect(a.toks, b.toks)) AS DOUBLE), 4) AS j,
         CASE WHEN a.lang = b.lang AND a.source = b.source THEN 1 ELSE 0 END
           AS same_block
  FROM sample a JOIN sample b ON a.doc_id < b.doc_id
), true_pairs AS (
  SELECT * FROM pairs WHERE j >= 0.8
), agg AS (
  SELECT count(*) AS n_true_pairs,
         coalesce(sum(same_block), 0) AS n_within_block,
         coalesce(sum(1 - same_block), 0) AS n_cross_block
  FROM true_pairs
)
SELECT (SELECT count(*) FROM sample) AS n_sample_docs,
       n_true_pairs, n_within_block, n_cross_block,
       CASE WHEN n_true_pairs > 0
            THEN n_cross_block * 1000000 // n_true_pairs ELSE 0 END AS missed_ppm
FROM agg
"""

# --------------------------------------------------------------------------
# EXT E236-E237 — quality/token trade-off, Adamic-Adar link prediction
# --------------------------------------------------------------------------

QUERIES["quality_token_tradeoff"] = corpus.quality_token_tradeoff
ORACLES["quality_token_tradeoff"] = f"""
WITH scored AS (
  SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
         CAST(len(list_distinct({_TOKS})) AS BIGINT) * 1000000
           // CAST(len({_TOKS}) AS BIGINT) AS score_ppm
  FROM documents WHERE len({_TOKS}) > 0
), ranked AS (
  SELECT n_tokens, score_ppm,
         (row_number() OVER (ORDER BY score_ppm DESC, doc_id ASC) - 1) * 10
           // (SELECT count(*) FROM scored) AS decile
  FROM scored
), per_dec AS (
  SELECT decile, count(*) AS n_docs, sum(n_tokens) AS decile_tokens,
         min(score_ppm) AS min_score_ppm
  FROM ranked GROUP BY 1
)
SELECT decile, n_docs, decile_tokens, min_score_ppm,
       sum(decile_tokens) OVER (ORDER BY decile
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS cum_tokens,
       sum(decile_tokens) OVER (ORDER BY decile
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) * 1000000
         // (SELECT sum(decile_tokens) FROM per_dec) AS cum_token_ppm
FROM per_dec
"""

QUERIES["adamic_adar_links"] = relational.adamic_adar_links
ORACLES["adamic_adar_links"] = """
WITH po AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), edges AS (
  SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
  FROM po a JOIN po b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
), und AS (
  SELECT pa AS z, pb AS x FROM edges
  UNION ALL
  SELECT pb AS z, pa AS x FROM edges
), deg AS (
  SELECT z, count(*) AS d FROM und GROUP BY 1
), piv AS (
  SELECT und.z, und.x, deg.d FROM und JOIN deg USING (z) WHERE deg.d <= 50
), wedges AS (
  SELECT w1.x AS part_a, w2.x AS part_b,
         CAST(round(1000000.0 / ln(CAST(w1.d AS DOUBLE))) AS BIGINT) AS u
  FROM piv w1 JOIN piv w2 ON w1.z = w2.z AND w1.x < w2.x
), scored AS (
  SELECT part_a, part_b, sum(u) AS aa_micro, count(*) AS n_common
  FROM wedges GROUP BY 1, 2
)
SELECT part_a, part_b, aa_micro, n_common
FROM scored s
WHERE NOT EXISTS (
  SELECT 1 FROM edges e WHERE e.pa = s.part_a AND e.pb = s.part_b
)
ORDER BY aa_micro DESC, part_a ASC, part_b ASC
LIMIT 20
"""

# --------------------------------------------------------------------------
# EXT E238-E239 — parquet footer stats, SPC control limits
# --------------------------------------------------------------------------

from parquet_to_csv_spark.sources import layout as _layout  # noqa: E402

QUERIES["parquet_footer_stats"] = _layout.parquet_footer_stats
# The only oracle that must name a FILE (DuckDB's parquet_metadata reads
# the footer directly — there is no view-level surface for storage
# bytes). Oracle SQL is run verbatim by the driver, which gates at
# sf0.01, so that path is pinned here; cross-SF parity (sf0.001) is
# additionally pytest-checked via pyarrow-vs-duckdb on the same file.
ORACLES["parquet_footer_stats"] = """
SELECT path_in_schema AS column_name,
       sum(num_values) AS n_values,
       sum(total_compressed_size) AS compressed_bytes,
       sum(total_uncompressed_size) AS uncompressed_bytes,
       sum(total_compressed_size) * 1000000 // sum(total_uncompressed_size)
         AS compression_ppm
FROM parquet_metadata('/root/testdata/sf0.01/lineitem.parquet')
GROUP BY 1
"""

QUERIES["spc_control_limits"] = relational.spc_control_limits
ORACLES["spc_control_limits"] = f"""
WITH monthly AS (
  SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT) AS ym,
         sum({duck_units("o_totalprice", 2)}) AS rev_cents
  FROM orders GROUP BY 1
), with_mr AS (
  SELECT ym, rev_cents,
         abs(rev_cents - lag(rev_cents) OVER (ORDER BY ym)) AS mr
  FROM monthly
), stats AS (
  SELECT count(*) AS n_months, sum(rev_cents) AS tot,
         sum(mr) AS mr_sum, count(mr) AS mr_n
  FROM with_mr
), lims AS (
  SELECT
    CAST(floor(CAST(tot AS DOUBLE) / CAST(n_months AS DOUBLE)) AS BIGINT)
      AS center_cents,
    CAST(floor(CAST(tot AS DOUBLE) / CAST(n_months AS DOUBLE)
               + 2.66 * (CAST(mr_sum AS DOUBLE) / CAST(mr_n AS DOUBLE)))
         AS BIGINT) AS ucl_cents,
    CAST(floor(CAST(tot AS DOUBLE) / CAST(n_months AS DOUBLE)
               - 2.66 * (CAST(mr_sum AS DOUBLE) / CAST(mr_n AS DOUBLE)))
         AS BIGINT) AS lcl_cents
  FROM stats
)
SELECT ym, rev_cents, mr, center_cents, ucl_cents, lcl_cents,
       CASE WHEN rev_cents > ucl_cents OR rev_cents < lcl_cents
            THEN 1 ELSE 0 END AS out_of_control
FROM with_mr CROSS JOIN lims
"""

# --------------------------------------------------------------------------
# EXT E240-E241 — chunk dedup audit, sort-key advisor
# --------------------------------------------------------------------------

QUERIES["chunk_dedup_report"] = corpus.chunk_dedup_report
ORACLES["chunk_dedup_report"] = f"""
WITH tok AS (
  SELECT doc_id, source, {_TOKS} AS toks FROM documents
), chunks AS (
  SELECT doc_id, source,
         md5(array_to_string(list_slice(toks, s, s + 63), ' ')) AS h
  FROM tok, unnest(range(1, greatest(len(toks), 1) + 1, 48)) AS t(s)
  WHERE len(list_slice(toks, s, s + 63)) > 0
), per_fp AS (
  SELECT source, h, count(*) AS n_occ, count(DISTINCT doc_id) AS n_docs
  FROM chunks GROUP BY 1, 2
)
SELECT source, sum(n_occ) AS n_chunks,
       count(*) AS n_distinct_chunks,
       (sum(n_occ) - count(*)) * 1000000 // sum(n_occ) AS dup_ppm,
       sum(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS n_cross_doc_chunks
FROM per_fp GROUP BY 1
"""

QUERIES["sort_key_advisor"] = _layout.sort_key_advisor
_SKA_CANDS = {
    "ship_day": "CAST(epoch_ms(l_shipdate) // 86400000 AS BIGINT)",
    "l_partkey": "l_partkey",
    "l_suppkey": "l_suppkey",
    "l_orderkey": "l_orderkey",
    "l_returnflag": "l_returnflag",
    "l_linestatus": "l_linestatus",
}
ORACLES["sort_key_advisor"] = (
    "WITH s AS (SELECT count(*) AS n, "
    + ", ".join(
        f"count(DISTINCT {expr}) AS d_{name}" for name, expr in _SKA_CANDS.items()
    )
    + " FROM lineitem)\n"
    + "\nUNION ALL\n".join(
        f"SELECT '{name}' AS column_name, d_{name} AS n_distinct,"
        f" n // d_{name} AS expected_run_len,"
        f" d_{name} * 1000000 // n AS density_ppm FROM s"
        for name in _SKA_CANDS
    )
)

# --------------------------------------------------------------------------
# EXT E242-E243 — daily ACF, Hill tail index
# --------------------------------------------------------------------------

QUERIES["daily_acf"] = timeops.daily_acf
_ACF_NUM = (
    "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
)
_ACF_DEN = (
    "sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
    " * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)"
    " - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))"
)
ORACLES["daily_acf"] = (
    f"""WITH daily AS (
  SELECT epoch_us(ts) // 86400000000 AS day,
         sum({duck_units("value", 2)}) AS y
  FROM events GROUP BY 1
)
"""
    + "\nUNION ALL\n".join(
        f"""SELECT CAST({lag} AS BIGINT) AS lag, n,
       CAST(floor({_ACF_NUM} / {_ACF_DEN} * 1000000.0) AS BIGINT) AS acf_micro
FROM (
  SELECT count(*) AS n, sum(a.y) AS sx, sum(b.y) AS sy,
         sum(a.y * a.y) AS sxx, sum(b.y * b.y) AS syy,
         sum(a.y * b.y) AS sxy
  FROM daily a JOIN daily b ON a.day = b.day - {lag}
)"""
        for lag in range(1, 8)
    )
)

QUERIES["hill_tail_index"] = mlmetrics.hill_tail_index
ORACLES["hill_tail_index"] = f"""
WITH ranked AS (
  SELECT {duck_units("o_totalprice", 2)} AS cents,
         row_number() OVER (ORDER BY {duck_units("o_totalprice", 2)} DESC,
                            o_orderkey ASC) AS rn
  FROM orders
), thresh AS (
  SELECT cents AS xk FROM ranked WHERE rn = 201
), terms AS (
  SELECT CAST(round(ln(CAST(cents AS DOUBLE) / CAST(xk AS DOUBLE)) * 1000000)
              AS BIGINT) AS u
  FROM ranked CROSS JOIN thresh WHERE rn <= 200
)
SELECT count(*) AS k, sum(u) AS log_sum_micro,
       count(*) * 1000000000000 // sum(u) AS alpha_micro
FROM terms
"""

# --------------------------------------------------------------------------
# EXT E244-E245 — receivables aging, Simpson's paradox detector
# --------------------------------------------------------------------------

QUERIES["receivables_aging"] = relational.receivables_aging
ORACLES["receivables_aging"] = f"""
WITH anchor AS (
  SELECT max(epoch_ms(o_orderdate) // 86400000) AS anchor_day FROM orders
), aged AS (
  SELECT o_custkey, {duck_units("o_totalprice", 2)} AS cents,
         CASE WHEN anchor_day - epoch_ms(o_orderdate) // 86400000 <= 30 THEN '0-30'
              WHEN anchor_day - epoch_ms(o_orderdate) // 86400000 <= 60 THEN '31-60'
              WHEN anchor_day - epoch_ms(o_orderdate) // 86400000 <= 90 THEN '61-90'
              ELSE '90+' END AS bucket
  FROM orders CROSS JOIN anchor
  WHERE o_orderstatus <> 'F'
)
SELECT n.n_name, a.bucket, count(*) AS n_orders,
       sum(a.cents) / 100.0 AS outstanding
FROM aged a
JOIN customer c ON a.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY 1, 2
"""

QUERIES["simpsons_check"] = mlmetrics.simpsons_check
ORACLES["simpsons_check"] = f"""
WITH ev AS (
  SELECT user_id,
         ((epoch_us(ts) // 86400000000) + 4) % 7 AS dow,
         event_type = 'purchase' AS is_p,
         {duck_units("value", 2)} AS cents
  FROM events
), per_user AS (
  SELECT user_id, sum(cents) AS tot FROM ev GROUP BY 1
), tiled AS (
  SELECT user_id, ntile(5) OVER (ORDER BY tot, user_id) AS stratum
  FROM per_user
), purch AS (
  SELECT t.stratum,
         CASE WHEN e.dow >= 5 THEN 1 ELSE 0 END AS weekend,
         e.cents
  FROM ev e JOIN tiled t USING (user_id) WHERE e.is_p
), arms AS (
  SELECT CAST(stratum AS VARCHAR) AS stratum_label,
         sum(CASE WHEN weekend = 1 THEN cents ELSE 0 END)
           // greatest(sum(CASE WHEN weekend = 1 THEN 1 ELSE 0 END), 1)
           AS we_mean_cents,
         sum(CASE WHEN weekend = 0 THEN cents ELSE 0 END)
           // greatest(sum(CASE WHEN weekend = 0 THEN 1 ELSE 0 END), 1)
           AS wd_mean_cents,
         count(*) AS n_purchases
  FROM purch GROUP BY 1
  UNION ALL
  SELECT 'overall',
         sum(CASE WHEN weekend = 1 THEN cents ELSE 0 END)
           // greatest(sum(CASE WHEN weekend = 1 THEN 1 ELSE 0 END), 1),
         sum(CASE WHEN weekend = 0 THEN cents ELSE 0 END)
           // greatest(sum(CASE WHEN weekend = 0 THEN 1 ELSE 0 END), 1),
         count(*)
  FROM purch
), o AS (
  SELECT CAST(sign(we_mean_cents - wd_mean_cents) AS BIGINT) AS overall_sign
  FROM arms WHERE stratum_label = 'overall'
)
SELECT stratum_label, n_purchases, we_mean_cents, wd_mean_cents,
       CASE WHEN CAST(sign(we_mean_cents - wd_mean_cents) AS BIGINT)
                 * overall_sign < 0
            THEN 1 ELSE 0 END AS sign_reversal
FROM arms CROSS JOIN o
"""

# --------------------------------------------------------------------------
# EXT E246-E247 — streaming upsert drain, nearest as-of join
# --------------------------------------------------------------------------

QUERIES["streaming_upsert_drain"] = _stream.upsert_drain_query
