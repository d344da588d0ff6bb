"""DuckDB/ANSI-SQL oracle generators for the driver's correctness gate.

Every engine query in ``__spark_entry__.queries()`` gets a semantically
equivalent SQL string generated here (same column names, same values).
The SQL re-derives SAX from first principles — window aggregates + CASE
bucketing + VALUES lookup tables — sharing nothing with the Spark
expression implementation except the constant tables, which makes it a
genuine independent oracle.

All generated SQL is plain aggregate/window/CASE/VALUES SQL that DuckDB
executes directly.
"""

from __future__ import annotations

from .constants import BREAKPOINTS, LETTERS, MINDIST_LUT, MISSING, STAT_EPS
from . import pykernel as pk


def _letters(c: int) -> str:
    return LETTERS[:c]


def _dlit(x: float) -> str:
    """Double literal: DuckDB parses bare decimal literals as DECIMAL and
    overflows when summing many of them; force DOUBLE."""
    return f"CAST({x!r} AS DOUBLE)"


def bucket_case(z_expr: str, c: int) -> str:
    """CASE mapping a z-score expression to its SAX letter (strict
    ``value < break`` boundary semantics)."""
    parts = ["CASE"]
    for i, b in enumerate(BREAKPOINTS[c]):
        parts.append(f"WHEN ({z_expr}) < {b!r} THEN '{LETTERS[i]}'")
    parts.append(f"ELSE '{LETTERS[c - 1]}' END")
    return " ".join(parts)


def frame_letter(sum_expr: str, cnt_expr: str, mu: str, sigma: str, c: int) -> str:
    """Letter for one PAA frame given its non-null sum/count and the
    window-level stats (flat-series rule sigma < STAT_EPS -> z = 0)."""
    z = (
        f"CASE WHEN {sigma} < {STAT_EPS} THEN 0.0 "
        f"ELSE (({sum_expr}) - ({cnt_expr}) * {mu}) / (({cnt_expr}) * {sigma}) END"
    )
    return (
        f"CASE WHEN ({cnt_expr}) = 0 THEN '{MISSING}' ELSE {bucket_case(z, c)} END"
    )


def sliding_words_sql(
    n: int,
    w: int,
    c: int,
    *,
    table: str = "events",
    key: str = "user_id",
    order: str = "ts, event_id",
    value: str = "value",
    id_cols: str = "user_id, event_id",
) -> str:
    """Per-row sliding-window SAX words via lag(): emits for every row,
    front-padding missing history with NULL (== the engine's NaN padding)."""
    f = n // w
    lags = ",\n         ".join(
        f"lag({value}, {n - 1 - k}) OVER o AS v{k}" for k in range(n - 1)
    ) + f",\n         {value} AS v{n - 1}"
    letter_exprs = []
    for j in range(w):
        vs = [f"v{j * f + t}" for t in range(f)]
        s = " + ".join(f"coalesce({v}, 0)" for v in vs)
        cnt = " + ".join(f"(CASE WHEN {v} IS NOT NULL THEN 1 ELSE 0 END)" for v in vs)
        letter_exprs.append(frame_letter(s, cnt, "mu", "sigma", c))
    word = " || ".join(f"({e})" for e in letter_exprs)
    return f"""
WITH ord AS (
  SELECT {id_cols}, {value},
         row_number() OVER (PARTITION BY {key} ORDER BY {order}) AS rn
  FROM {table}
), win AS (
  SELECT {id_cols},
         avg({value}) OVER wf AS mu,
         coalesce(stddev_pop({value}) OVER wf, 0.0) AS sigma,
         {lags}
  FROM ord
  WINDOW wf AS (PARTITION BY {key} ORDER BY rn ROWS BETWEEN {n - 1} PRECEDING AND CURRENT ROW),
         o AS (PARTITION BY {key} ORDER BY rn)
)
SELECT {id_cols}, {word} AS sax_word FROM win
"""


def tumbling_words_sql(
    n: int,
    w: int,
    c: int,
    *,
    table: str = "events",
    key: str = "user_id",
    order: str = "ts, event_id",
    value: str = "value",
    keep_partial: bool = False,
) -> str:
    """Full tumbling windows of n consecutive rows per key ->
    (series_key, window_id, sax_word). With ``keep_partial``, trailing
    windows shorter than n are kept — missing positions contribute
    nothing to any frame sum/count, which is exactly the engine's
    NaN back-padding semantics."""
    f = n // w
    frame_aggs = []
    for j in range(w):
        lo, hi = j * f, (j + 1) * f - 1
        frame_aggs.append(
            f"sum(CASE WHEN p BETWEEN {lo} AND {hi} THEN {value} END) AS s{j},\n"
            f"         count(CASE WHEN p BETWEEN {lo} AND {hi} THEN {value} END) AS c{j}"
        )
    letters = " || ".join(
        f"({frame_letter(f's{j}', f'c{j}', 'mu', 'sigma', c)})" for j in range(w)
    )
    return f"""
WITH ord AS (
  SELECT {key} AS series_key, {value},
         row_number() OVER (PARTITION BY {key} ORDER BY {order}) AS rn
  FROM {table}
), pos AS (
  SELECT series_key, {value},
         CAST(floor((rn - 1) / {n}) AS BIGINT) AS window_id,
         CAST((rn - 1) % {n} AS INT) AS p
  FROM ord
), grp AS (
  SELECT series_key, window_id,
         count({value}) AS finite_cnt, count(*) AS total_cnt,
         avg({value}) AS mu,
         coalesce(stddev_pop({value}), 0.0) AS sigma,
         {",".join(frame_aggs)}
  FROM pos
  GROUP BY series_key, window_id
  {"" if keep_partial else f"HAVING count(*) = {n}"}
)
SELECT series_key, window_id, {letters} AS sax_word FROM grp
"""


def whole_series_words_sql(
    w: int,
    c: int,
    *,
    table: str = "events",
    key: str = "user_id",
    order: str = "ts, event_id",
    value: str = "value",
) -> str:
    """One word per series over its history truncated to a multiple of w
    -> (series_key, n, sax_word). Uses per-series frame size n/w."""
    return f"""
WITH ord AS (
  SELECT {key} AS series_key, {value} AS v,
         row_number() OVER (PARTITION BY {key} ORDER BY {order}) AS rn,
         count(*) OVER (PARTITION BY {key}) AS series_len
  FROM {table}
), trunc AS (
  SELECT series_key, v, rn,
         CAST(floor(series_len / {w}) * {w} AS BIGINT) AS usable
  FROM ord
  WHERE rn <= floor(series_len / {w}) * {w}
    AND series_len >= {w}
), framed AS (
  SELECT series_key, v, usable,
         CAST(floor((rn - 1) / (usable / {w})) AS INT) AS frame_id
  FROM trunc
), stats AS (
  SELECT series_key, usable AS n,
         avg(v) AS mu, coalesce(stddev_pop(v), 0.0) AS sigma
  FROM trunc GROUP BY series_key, usable
), frames AS (
  SELECT series_key, frame_id, sum(v) AS fsum, count(v) AS fcnt
  FROM framed GROUP BY series_key, frame_id
), lettered AS (
  SELECT f.series_key, s.n, f.frame_id,
         {frame_letter('f.fsum', 'f.fcnt', 's.mu', 's.sigma', c)} AS letter
  FROM frames f JOIN stats s ON f.series_key = s.series_key
)
SELECT series_key, CAST(n AS INT) AS n,
       string_agg(letter, '' ORDER BY frame_id) AS sax_word
FROM lettered
GROUP BY series_key, n
"""


def event_time_words_sql(
    days: int,
    w: int,
    c: int,
    *,
    table: str = "events",
    key: str = "user_id",
    value: str = "value",
) -> str:
    """Event-time tumbling windows of ``days`` days (epoch-aligned, same
    origin as Spark's ``F.window``) -> (series_key, window_start, n,
    sax_word); windows truncated to a multiple of w, shorter dropped."""
    return f"""
WITH ord AS (
  SELECT {key} AS series_key,
         time_bucket(INTERVAL '{days} days', ts, TIMESTAMP '1970-01-01') AS wstart,
         {value} AS v,
         row_number() OVER (PARTITION BY {key}, time_bucket(INTERVAL '{days} days', ts, TIMESTAMP '1970-01-01')
                            ORDER BY ts, {value}) AS rn,
         count(*) OVER (PARTITION BY {key}, time_bucket(INTERVAL '{days} days', ts, TIMESTAMP '1970-01-01')) AS wlen
  FROM {table}
), trunc AS (
  SELECT series_key, wstart, v, rn,
         CAST(floor(wlen / {w}) * {w} AS BIGINT) AS usable
  FROM ord
  WHERE rn <= floor(wlen / {w}) * {w} AND wlen >= {w}
), framed AS (
  SELECT series_key, wstart, v, usable,
         CAST(floor((rn - 1) / (usable / {w})) AS INT) AS frame_id
  FROM trunc
), stats AS (
  SELECT series_key, wstart, usable AS n,
         avg(v) AS mu, coalesce(stddev_pop(v), 0.0) AS sigma
  FROM trunc GROUP BY series_key, wstart, usable
), frames AS (
  SELECT series_key, wstart, frame_id, sum(v) AS fsum, count(v) AS fcnt
  FROM framed GROUP BY series_key, wstart, frame_id
), lettered AS (
  SELECT f.series_key, f.wstart, s.n, f.frame_id,
         {frame_letter('f.fsum', 'f.fcnt', 's.mu', 's.sigma', c)} AS letter
  FROM frames f
  JOIN stats s ON f.series_key = s.series_key AND f.wstart = s.wstart
)
SELECT series_key, wstart AS window_start, CAST(n AS INT) AS n,
       string_agg(letter, '' ORDER BY frame_id) AS sax_word
FROM lettered
GROUP BY series_key, wstart, n
"""


def _position_contrib(la_idx: int, lb_idx: int, c: int) -> tuple[float, bool]:
    """(d2, is_above) for one aligned symbol pair — same substitution and
    reversed-order accounting as pykernel.mindist_parts."""
    if la_idx == lb_idx:
        return 0.0, False
    la2, lb2 = la_idx, lb_idx
    if la_idx == c:
        la2 = c - 1 if lb_idx < c - 1 - lb_idx else 0
    elif lb_idx == c:
        lb2 = c - 1 if la_idx < c - 1 - la_idx else 0
    d = MINDIST_LUT[c][la2 * c + lb2]
    return d * d, la2 > lb2


def mindist_pattern_exprs(
    word_expr: str,
    pattern: str,
    *,
    c: int,
    n_expr: str,
) -> dict[str, str]:
    """SQL expressions (dist, above, below) for mindist(word, pattern)
    with a literal pattern: each position's contribution is precomputed
    per possible letter, so the SQL is a flat sum of CASE lookups."""
    pat = pk.parse(pattern, c)
    w = len(pat)
    alphabet = list(_letters(c)) + [MISSING]
    total_terms, above_terms = [], []
    for i, lb in enumerate(pat, start=1):
        cases_total, cases_above = [], []
        for la_idx, la in enumerate(alphabet):
            la_i = c if la == MISSING else la_idx
            d2, is_above = _position_contrib(la_i, lb, c)
            if d2:
                cases_total.append(f"WHEN '{la}' THEN {_dlit(d2)}")
                if is_above:
                    cases_above.append(f"WHEN '{la}' THEN {_dlit(d2)}")
        ch = f"substr({word_expr}, {i}, 1)"
        total_terms.append(
            f"(CASE {ch} {' '.join(cases_total)} ELSE 0.0 END)" if cases_total else "0.0"
        )
        above_terms.append(
            f"(CASE {ch} {' '.join(cases_above)} ELSE 0.0 END)" if cases_above else "0.0"
        )
    comp = f"sqrt(CAST({n_expr} AS DOUBLE) / {w})"
    total = " + ".join(total_terms)
    above = " + ".join(above_terms)
    return {
        "dist": f"{comp} * sqrt({total})",
        "above": f"{comp} * sqrt({above})",
        "below": f"{comp} * sqrt(({total}) - ({above}))",
    }


def mindist_lut_values(c: int) -> str:
    """VALUES table of every aligned letter-pair contribution after '#'
    substitution: (la, lb, d2, is_above). Join target for word-vs-word
    mindist in SQL."""
    alphabet = list(_letters(c)) + [MISSING]
    rows = []
    for ia, la in enumerate(alphabet):
        for ib, lb in enumerate(alphabet):
            la_i = c if la == MISSING else ia
            lb_i = c if lb == MISSING else ib
            d2, is_above = _position_contrib(la_i, lb_i, c)
            rows.append(f"('{la}', '{lb}', {_dlit(d2)}, {str(is_above).upper()})")
    return "(VALUES " + ", ".join(rows) + ") AS lut(la, lb, d2, is_above)"


def positions_values(w: int) -> str:
    return "(VALUES " + ", ".join(f"({i})" for i in range(1, w + 1)) + ") AS pos(i)"


def discords_sql(
    n: int,
    w: int,
    c: int,
    *,
    rare_words: int = 10,
    top: int = 5,
    table: str = "events",
    key: str = "user_id",
    order: str = "ts, event_id",
    value: str = "value",
) -> str:
    """Twin of operators.search.discords: tumbling words (via
    :func:`tumbling_words_sql` embedded as a CTE), global word
    histogram, the ``rare_words`` rarest words as candidates, exact
    same-series NN distance on the shared left-to-right squared-diff
    fold, top ``top`` by quantized descending NN distance. ``fin``
    reads a NULL for every NULL, NaN or ±Inf ``value`` (a column name),
    ``wins`` keeps only windows of n non-NULL values, and ``wt`` joins
    the words to it, so a window holding a non-finite value is neither
    counted, a candidate nor a neighbor."""
    words_stmt = tumbling_words_sql(
        n, w, c, table="fin", key=key, order=order, value=value
    )
    d2 = (
        f"list_reduce(list_prepend(CAST(0 AS DOUBLE), "
        f"list_transform(range(1, {n + 1}), "
        f"i -> (c.vals[i] - o.vals[i]) * (c.vals[i] - o.vals[i]))), "
        f"(x, y) -> x + y)"
    )
    return f"""
WITH fin AS (
  SELECT * REPLACE (
    CASE WHEN isfinite(CAST({value} AS DOUBLE)) THEN {value} END AS {value}
  ) FROM {table}
), base AS (
  SELECT {key} AS series_key, {value} AS v,
         row_number() OVER (PARTITION BY {key} ORDER BY {order}) AS rn
  FROM fin
), pos AS (
  SELECT series_key, v,
         CAST(floor((rn - 1) / {n}) AS BIGINT) AS window_id,
         CAST((rn - 1) % {n} AS INT) AS p
  FROM base
), wins AS (
  SELECT series_key, window_id, list(CAST(v AS DOUBLE) ORDER BY p) AS vals
  FROM pos GROUP BY series_key, window_id HAVING count(v) = {n}
), words AS (
{words_stmt}
), wt AS (
  SELECT wo.series_key, wo.window_id, wo.sax_word, wi.vals
  FROM words wo JOIN wins wi USING (series_key, window_id)
), counts AS (
  SELECT sax_word, count(*) AS word_count FROM wt GROUP BY sax_word
), rare AS (
  SELECT sax_word, word_count FROM counts
  ORDER BY word_count, sax_word LIMIT {rare_words}
), cand AS (
  SELECT wt.series_key, wt.window_id, wt.sax_word, rare.word_count, wt.vals
  FROM wt JOIN rare USING (sax_word)
), nn AS (
  SELECT c.series_key, c.window_id, c.sax_word, c.word_count,
         min({d2}) AS m
  FROM cand c JOIN wins o
    ON o.series_key = c.series_key AND o.window_id != c.window_id
  GROUP BY c.series_key, c.window_id, c.sax_word, c.word_count
)
SELECT series_key, window_id, sax_word, word_count,
       floor(sqrt(m) * 1000000.0 + 0.5) / 1000000.0 AS nn_dist
FROM nn
ORDER BY nn_dist DESC, series_key, window_id
LIMIT {top}
"""


def vsm_series_pairs_sql(
    n: int,
    w: int,
    c: int,
    *,
    df_cap: int = 200,
    top: int = 20,
    table: str = "events",
    key: str = "user_id",
    order: str = "ts, event_id",
    value: str = "value",
) -> str:
    """Twin of operators.search.vsm_series_pairs: tumbling word bags,
    tf * ln(N/df) weights over the df-capped word space, pairwise
    tf-idf cosine, top pairs by quantized descending similarity."""
    words_stmt = tumbling_words_sql(
        n, w, c, table=table, key=key, order=order, value=value
    )
    return f"""
WITH words AS (
{words_stmt}
), tf AS (
  SELECT series_key, sax_word, count(*) AS tf
  FROM words GROUP BY series_key, sax_word
), dfw AS (
  SELECT sax_word, count(*) AS df FROM tf GROUP BY sax_word
), nrow AS (
  SELECT count(DISTINCT series_key) AS n FROM words
), wts AS (
  SELECT series_key, sax_word, tf * ln(n / df) AS wgt
  FROM tf JOIN dfw USING (sax_word) CROSS JOIN nrow
  WHERE df <= {df_cap}
), norms AS (
  SELECT series_key, sqrt(sum(wgt * wgt)) AS nrm
  FROM wts GROUP BY series_key
), dots AS (
  SELECT a.series_key AS series_a, b.series_key AS series_b,
         count(*) AS shared_words, sum(a.wgt * b.wgt) AS d
  FROM wts a JOIN wts b
    ON a.sax_word = b.sax_word AND a.series_key < b.series_key
  GROUP BY a.series_key, b.series_key
)
SELECT series_a, series_b, shared_words,
       floor(d / (na.nrm * nb.nrm) * 1000000.0 + 0.5) / 1000000.0
         AS cos_sim
FROM dots
JOIN norms na ON na.series_key = series_a
JOIN norms nb ON nb.series_key = series_b
ORDER BY cos_sim DESC, series_a, series_b
LIMIT {top}
"""


def numerosity_reduce_sql(
    n: int,
    w: int,
    c: int,
    *,
    table: str = "events",
    key: str = "user_id",
    order: str = "ts, event_id",
    id_col: str = "event_id",
) -> str:
    """Twin of operators.windows.numerosity_reduce over the sliding
    words of :func:`sliding_words_sql`: boundary flags where the lagged
    word differs, running-sum run ids, one row per run."""
    sw = sliding_words_sql(
        n, w, c, table=table, key=key, order=order,
        id_cols=f"{key}, {id_col}, ts",
    )
    return f"""
WITH sw AS (
{sw}
), chg AS (
  SELECT {key}, {id_col}, ts, sax_word,
         CASE WHEN lag(sax_word) OVER o IS DISTINCT FROM sax_word
              THEN 1 ELSE 0 END AS c
  FROM sw
  WINDOW o AS (PARTITION BY {key} ORDER BY {order})
), g AS (
  SELECT *, sum(c) OVER (
      PARTITION BY {key} ORDER BY {order}
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
  FROM chg
)
SELECT {key}, first({id_col} ORDER BY {order}) AS start_{id_col},
       min(sax_word) AS sax_word, count(*) AS run_length
FROM g GROUP BY {key}, run
"""


def autocorrelation_sql(
    *,
    max_lag: int = 5,
    table: str = "events",
    key: str = "user_id",
    order: str = "ts, event_id",
    value: str = "value",
) -> str:
    """Twin of operators.timeseries.autocorrelation: quantized
    per-series mean, lagged centered products, shared denominator,
    UNION ALL unpivot over the lags."""
    lag_cols = ",\n         ".join(
        f"lag(CAST({value} AS DOUBLE), {k}) OVER o - mu AS c{k}"
        for k in range(1, max_lag + 1)
    )
    num_aggs = ",\n         ".join(
        f"sum(c * c{k}) AS n{k}, count(c{k}) AS cnt{k}"
        for k in range(1, max_lag + 1)
    )
    arms = "\nUNION ALL\n".join(
        f"SELECT {key}, {k} AS lag_k, cnt{k} AS n_pairs,\n"
        f"       floor(n{k} / dd * 1000000.0 + 0.5) / 1000000.0 AS acf\n"
        f"FROM n JOIN d USING ({key})"
        for k in range(1, max_lag + 1)
    )
    return f"""
WITH mu AS (
  SELECT {key},
         floor(avg(CAST({value} AS DOUBLE)) * 1000000.0 + 0.5)
           / 1000000.0 AS mu
  FROM {table} GROUP BY {key}
), b AS (
  SELECT e.{key}, CAST({value} AS DOUBLE) - mu AS c,
         {lag_cols}
  FROM {table} e JOIN mu USING ({key})
  WINDOW o AS (PARTITION BY e.{key} ORDER BY {order})
), d AS (
  SELECT {key}, sum(c * c) AS dd FROM b GROUP BY {key}
), n AS (
  SELECT {key},
         {num_aggs}
  FROM b GROUP BY {key}
)
{arms}
"""


def changepoint_sql(
    *,
    table: str = "events",
    key: str = "user_id",
    order: str = "ts, event_id",
    value: str = "value",
) -> str:
    """Twin of operators.timeseries.changepoint: quantized running
    prefix sums, arg_max totals off those SAME running sums, candidate
    SSE on the quantized inputs, row_number (sse, i) argmin."""
    qz = "floor(({}) * 1000000.0 + 0.5) / 1000000.0"
    s_run = qz.format(
        "sum(v) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    )
    q_run = qz.format(
        "sum(v * v) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    )
    sse = qz.format(
        "(q - s * s / i) + ((qn - q) - (sn - s) * (sn - s) / (n - i))"
    )
    sse_none = qz.format("qn - sn * sn / n")
    return f"""
WITH b AS (
  SELECT {key}, {order}, CAST({value} AS DOUBLE) AS v
  FROM {table} WHERE {value} IS NOT NULL
), c AS (
  SELECT {key},
         row_number() OVER w AS i,
         {s_run} AS s,
         {q_run} AS q
  FROM b
  WINDOW w AS (PARTITION BY {key} ORDER BY {order})
), t AS (
  SELECT {key}, count(*) AS n, arg_max(s, i) AS sn, arg_max(q, i) AS qn
  FROM c GROUP BY {key}
), cand AS (
  SELECT c.{key}, CAST(i AS DOUBLE) AS i, s, q,
         CAST(n AS DOUBLE) AS n, sn, qn,
         {sse} AS sse
  FROM c JOIN t USING ({key}) WHERE i < n
), r AS (
  SELECT {key}, CAST(n AS BIGINT) AS n, CAST(i AS BIGINT) AS split_i,
         {sse_none} AS sse_none, sse AS sse_split,
         row_number() OVER (PARTITION BY {key} ORDER BY sse, i) AS rn
  FROM cand
)
SELECT {key}, n, split_i, sse_none, sse_split,
       floor((sse_none - sse_split) * 1000000.0 + 0.5) / 1000000.0 AS gain
FROM r WHERE rn = 1
"""


def changepoint_segments_sql(
    *,
    table: str = "events",
    key: str = "user_id",
    order: str = "ts, event_id",
    value: str = "value",
) -> str:
    """Twin of operators.timeseries.changepoint_segments: the
    changepoint_sql prefix/total CTEs, a root argmin that also captures
    (S, Q) at the split, then segment-local level-2 candidates over the
    SAME prefix relation with CASE'd boundary offsets."""
    qz = "floor(({}) * 1000000.0 + 0.5) / 1000000.0"
    s_run = qz.format(
        "sum(v) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    )
    q_run = qz.format(
        "sum(v * v) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    )
    sse_root = qz.format(
        "(q - s * s / CAST(i AS DOUBLE))"
        " + ((qn - q) - (sn - s) * (sn - s) / (CAST(n AS DOUBLE) - i))"
    )
    sse_none = qz.format("rqn - rsn * rsn / CAST(rn AS DOUBLE)")
    seg_before = qz.format(
        "(bq - aq) - (bs - as_) * (bs - as_) / CAST(bi - ai AS DOUBLE)"
    )
    sse2 = qz.format(
        "((q - aq) - (s - as_) * (s - as_) / CAST(i - ai AS DOUBLE))"
        " + ((bq - q) - (bs - s) * (bs - s) / CAST(bi - i AS DOUBLE))"
    )
    return f"""
WITH b AS (
  SELECT {key}, {order}, CAST({value} AS DOUBLE) AS v
  FROM {table} WHERE {value} IS NOT NULL
), c AS (
  SELECT {key},
         row_number() OVER w AS i,
         {s_run} AS s,
         {q_run} AS q
  FROM b
  WINDOW w AS (PARTITION BY {key} ORDER BY {order})
), t AS (
  SELECT {key}, count(*) AS n, arg_max(s, i) AS sn, arg_max(q, i) AS qn
  FROM c GROUP BY {key}
), cand AS (
  SELECT c.{key}, i, s, q, n, sn, qn, {sse_root} AS sse
  FROM c JOIN t USING ({key}) WHERE i < n
), root AS (
  SELECT {key}, n AS rn, sn AS rsn, qn AS rqn,
         sse AS rsse, i AS s1, s AS s1s, q AS s1q
  FROM (
    SELECT *, row_number() OVER (
      PARTITION BY {key} ORDER BY sse, i) AS rk
    FROM cand) WHERE rk = 1
), root_rows AS (
  SELECT {key}, 1 AS level, 'root' AS side,
         CAST(s1 AS BIGINT) AS split_i,
         {sse_none} AS sse_before, rsse AS sse_after,
         floor(({sse_none} - rsse) * 1000000.0 + 0.5) / 1000000.0 AS gain
  FROM root
), j AS (
  SELECT c.{key}, c.i, c.s, c.q, r.rn, r.rsn, r.rqn, r.s1, r.s1s, r.s1q,
         CASE WHEN c.i < r.s1 THEN 0 ELSE r.s1 END AS ai,
         CASE WHEN c.i < r.s1 THEN 0.0 ELSE r.s1s END AS as_,
         CASE WHEN c.i < r.s1 THEN 0.0 ELSE r.s1q END AS aq,
         CASE WHEN c.i < r.s1 THEN r.s1 ELSE r.rn END AS bi,
         CASE WHEN c.i < r.s1 THEN r.s1s ELSE r.rsn END AS bs,
         CASE WHEN c.i < r.s1 THEN r.s1q ELSE r.rqn END AS bq,
         CASE WHEN c.i < r.s1 THEN 'left' ELSE 'right' END AS side
  FROM c JOIN root r USING ({key})
), cand2 AS (
  SELECT {key}, side, {seg_before} AS sse_before, i,
         {sse2} AS sse2
  FROM j WHERE i <> s1 AND i < bi
), seg_rows AS (
  SELECT {key}, 2 AS level, side, CAST(i AS BIGINT) AS split_i,
         sse_before, sse2 AS sse_after,
         floor((sse_before - sse2) * 1000000.0 + 0.5) / 1000000.0 AS gain
  FROM (
    SELECT *, row_number() OVER (
      PARTITION BY {key}, side ORDER BY sse2, i) AS rk
    FROM cand2) WHERE rk = 1
)
SELECT * FROM root_rows
UNION ALL
SELECT * FROM seg_rows
"""


def _path_topk_sql(
    *, k: int, band: int, n: int, table: str, mode: str
) -> str:
    """Shared oracle for operators.dtw.dtw_topk / frechet_topk over
    dtw.hourly_profile: BRUTE-FORCE banded path-DP over EVERY key via
    a recursive CTE walking the same anti-diagonals the Spark fold
    runs (slot i of the carried list holds D(i, s-i), 'infinity' off
    band/range) — so each driver run re-proves the lower bound's
    admissibility, not just engine agreement. ``mode='sum'`` is DTW
    (cost summed along the best path, LB_Keogh bound); ``mode='max'``
    is discrete Fréchet (bottleneck cost, max-violation bound). The
    query series is the lowest key's profile; series values are
    1e-6-floor-quantized hourly means (missing hours 0.0), making the
    DP inputs — and therefore every double the DP computes —
    bit-identical across engines."""
    if mode == "sum":
        combine_open, combine_mid, combine_close = "(", ") + (", ")"
        lb_fold = "a + b"
        lb_join = "+"
        outcol = "dtw"
    else:
        combine_open, combine_mid, combine_close = (
            "greatest(", ", ", ")",
        )
        lb_fold = "greatest(a, b)"
        lb_join = None  # greatest() join, handled below
        outcol = "frechet"

    def env(agg: str) -> str:
        return (
            f"list_{agg}(q[greatest(1, j - {band}) : least({n}, j + {band})])"
        )

    above = f"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list_transform(range(1, {n} + 1), j ->
             CASE WHEN s.x[j] > {env('max')}
                  THEN (s.x[j] - {env('max')}) * (s.x[j] - {env('max')})
                  ELSE 0.0 END)), (a, b) -> {lb_fold})"""
    below = f"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list_transform(range(1, {n} + 1), j ->
             CASE WHEN s.x[j] < {env('min')}
                  THEN ({env('min')} - s.x[j]) * ({env('min')} - s.x[j])
                  ELSE 0.0 END)), (a, b) -> {lb_fold})"""
    lb_expr = (
        f"{above}\n         + {below}"
        if lb_join == "+"
        else f"greatest({above},\n         {below})"
    )
    cost = f"(x[i + 1] - q[s + 1 - i + 1]) * (x[i + 1] - q[s + 1 - i + 1])"
    best = f"""least(
                         CASE WHEN i >= 1 THEN prev[i]
                              ELSE CAST('infinity' AS DOUBLE) END,
                         prev[i + 1],
                         CASE WHEN i >= 1 THEN pp[i]
                              ELSE CAST('infinity' AS DOUBLE) END)"""
    return f"""
WITH RECURSIVE per AS (
  SELECT user_id AS key, (epoch_us(ts) // 3600000000) % 24 AS h,
         floor(avg(value) * 1000000.0 + 0.5) / 1000000.0 AS v
  FROM {table} GROUP BY user_id, (epoch_us(ts) // 3600000000) % 24
), grid AS (
  SELECT k.key, g.h, coalesce(p.v, 0.0) AS v
  FROM (SELECT DISTINCT key FROM per) k
  CROSS JOIN range(0, {n}) g(h)
  LEFT JOIN per p ON p.key = k.key AND p.h = g.h
), ser AS (
  SELECT key, list(v ORDER BY h) AS x FROM grid GROUP BY key
), qq AS (
  SELECT x AS q FROM ser WHERE key = (SELECT min(key) FROM ser)
), lbp AS (
  SELECT s.key, s.x,
         {lb_expr} AS lb
  FROM ser s, qq
), dp AS (
  SELECT key, x, q, 0 AS s,
         list_transform(range(0, {n}), i ->
           CASE WHEN i = 0 THEN (x[1] - q[1]) * (x[1] - q[1])
                ELSE CAST('infinity' AS DOUBLE) END) AS prev,
         list_transform(range(0, {n}),
                        i -> CAST('infinity' AS DOUBLE)) AS pp
  FROM ser, qq
  UNION ALL
  SELECT key, x, q, s + 1,
         list_transform(range(0, {n}), i ->
           CASE WHEN (s + 1 - i) >= 0 AND (s + 1 - i) <= {n - 1}
                     AND abs(i - (s + 1 - i)) <= {band}
                THEN {combine_open}{cost}{combine_mid}{best}{combine_close}
                ELSE CAST('infinity' AS DOUBLE) END),
         prev
  FROM dp WHERE s < {2 * n - 2}
), dist AS (
  SELECT key, prev[{n}] AS d FROM dp WHERE s = {2 * n - 2}
)
SELECT l.key, l.lb, d.d AS {outcol}
FROM lbp l JOIN dist d USING (key)
ORDER BY d.d, l.key LIMIT {k}
"""


def dtw_topk_sql(
    *, k: int, band: int, n: int = 24, table: str = "events"
) -> str:
    """Oracle for operators.dtw.dtw_topk (see :func:`_path_topk_sql`)."""
    return _path_topk_sql(k=k, band=band, n=n, table=table, mode="sum")


def frechet_topk_sql(
    *, k: int, band: int, n: int = 24, table: str = "events"
) -> str:
    """Oracle for operators.dtw.frechet_topk (see
    :func:`_path_topk_sql`)."""
    return _path_topk_sql(k=k, band=band, n=n, table=table, mode="max")
