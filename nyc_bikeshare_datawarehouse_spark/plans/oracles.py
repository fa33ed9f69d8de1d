"""DuckDB oracle SQL — one ANSI-SQL equivalent per oracle-checkable query.

Parity pins (SURVEY §7.4):
- dayofweek: Spark 1=Sunday..7=Saturday; DuckDB 0=Sunday..6 → `+ 1`.
- weekofyear: both ISO — no adjustment.
- CAST(double AS INT): Spark truncates, DuckDB rounds → always FLOOR first.
- SUM(int) in DuckDB is HUGEINT → CAST to BIGINT where Spark yields long.
- float aggregates rounded on both sides (summation-order drift).
- `range(ts, ts, interval)` is stop-exclusive (generate_series is NOT).
- session gaps in exact microseconds (epoch_us) on both sides.

Every SQL-expressible query has an entry here (all 22 TPC-H shapes —
Q2/Q9/Q11/Q16/Q20 adapted over a lineitem-derived supply relation, the
corpus has no partsupp — the dedup/sampling/split family, and the
SCD/CDC/profile warehouse ops).
The 8 queries with no entry are genuinely non-SQL-expressible —
the xxhash64 minhash/simhash lattices (each has a hash-checked
md5-portable twin: q_minhash_portable, q_simhash_portable; the SRP
pair gained a generated-hyperplane oracle in round 6), the two IVF ANN
lifecycles (iterative KMeans has no SQL form), the composed text
pipeline, the two approx sketches (engine-specific estimates; the
portable HLL/KMV/count-min siblings ARE oracle-checked), and the
applyInPandas PCA spectrum (no SQL engine replays eigvalsh) — and get
rows-only determinism checks;
`tests/test_queries.py::test_contract_shape` pins that exact set.
"""

from __future__ import annotations

ORACLES: dict[str, str] = {
    "q_mixture_epochs": """
        SELECT doc_id, lang, e.epoch
        FROM (
            SELECT doc_id, lang,
                   (w.weight_bp // 10000)
                   + CASE WHEN CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                                    AS BIGINT) % 10000 < (w.weight_bp % 10000)
                          THEN 1 ELSE 0 END AS n_copies
            FROM documents
            JOIN (VALUES ('en', 5000), ('de', 10000), ('es', 22500),
                         ('fr', 22500), ('zh', 35000)) AS w(lang, weight_bp)
              USING (lang)
        ) d
        -- max weight is 3.5 epochs -> n_copies <= 4; the VALUES table bounds it
        JOIN (VALUES (1), (2), (3), (4)) AS e(epoch) ON e.epoch <= d.n_copies
        ORDER BY doc_id, epoch
    """,
    "q_shard_assign": """
        SELECT doc_id, lang,
               CAST(FLOOR((rn - 1) / 64) AS INTEGER) AS shard,
               CAST((rn - 1) % 64 AS INTEGER) AS pos
        FROM (
            SELECT doc_id, lang,
                   ROW_NUMBER() OVER (
                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                   ) AS rn
            FROM documents
        )
        ORDER BY shard, pos
    """,
    "q_incremental_dedup": """
        WITH docs_a AS (
            SELECT * FROM documents
            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
            LIMIT 1000
        ), delta AS (
            SELECT * FROM docs_a WHERE doc_id % 5 = 0
        ), corpus AS (
            SELECT * FROM docs_a WHERE doc_id % 5 <> 0
        ), no_exact AS (
            SELECT d.* FROM delta d
            WHERE md5(lower(trim(d.text))) NOT IN
                  (SELECT md5(lower(trim(text))) FROM corpus)
        ), dsh AS (
            SELECT DISTINCT doc_id,
                   unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])) AS s
            FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
                  FROM no_exact)
            WHERE len(t) >= 2
        ), csh AS (
            SELECT DISTINCT doc_id,
                   unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])) AS s
            FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
                  FROM corpus)
            WHERE len(t) >= 2
        ), dsz AS (SELECT doc_id, COUNT(*) AS n_d FROM dsh GROUP BY doc_id
        ), csz AS (SELECT doc_id, COUNT(*) AS n_c FROM csh GROUP BY doc_id
        ), inter AS (
            SELECT d.doc_id AS id_d, c.doc_id AS id_c, COUNT(*) AS n_inter
            FROM dsh d JOIN csh c ON d.s = c.s
            GROUP BY d.doc_id, c.doc_id
        ), rejected AS (
            SELECT DISTINCT id_d AS doc_id
            FROM inter
            JOIN dsz ON dsz.doc_id = id_d
            JOIN csz ON csz.doc_id = id_c
            WHERE FLOOR(n_inter / (n_d + n_c - n_inter) * 10000) / 10000 >= 0.5
        )
        SELECT doc_id, lang, source
        FROM no_exact
        WHERE doc_id NOT IN (SELECT doc_id FROM rejected)
        ORDER BY doc_id
    """,
    "q_vocab_build": """
        WITH toks AS (
            SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS token
            FROM documents
        ), counts AS (
            SELECT token, CAST(COUNT(*) AS BIGINT) AS n FROM toks GROUP BY token
        )
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY n DESC, token) AS INTEGER) AS token_id,
               token, n,
               FLOOR(CAST(SUM(n) OVER (ORDER BY n DESC, token
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
                     / (SELECT SUM(n) FROM counts) * 10000) / 10000 AS coverage
        FROM counts
        ORDER BY token_id
    """,
    "q_group_quota": """
        SELECT lang, doc_id, CAST(rank AS INTEGER) AS rank
        FROM (
            SELECT lang, doc_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY lang
                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                   ) AS rank
            FROM documents
        )
        WHERE rank <= 50
        ORDER BY lang, rank
    """,
    "q_sql_parameterized": """
        SELECT c.c_mktsegment,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(FLOOR(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) / 100.0
                   AS revenue
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        WHERE o.o_totalprice > 300000 AND c.c_mktsegment <> 'MACHINERY'
        GROUP BY c.c_mktsegment
        ORDER BY c.c_mktsegment
    """,
    "q_kmv_sketch": """
        WITH ck AS (
            SELECT DISTINCT CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15))
                                 AS BIGINT) AS hval
            FROM events WHERE event_type = 'click'
        ), pk AS (
            SELECT DISTINCT CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15))
                                 AS BIGINT) AS hval
            FROM events WHERE event_type = 'purchase'
        ), ca AS (SELECT hval FROM ck ORDER BY hval LIMIT 64
        ), pa AS (SELECT hval FROM pk ORDER BY hval LIMIT 64
        ), ua AS (
            SELECT hval FROM (SELECT hval FROM ca UNION SELECT hval FROM pa)
            ORDER BY hval LIMIT 64
        )
        SELECT source, CAST(pos AS INTEGER) AS pos, hval FROM (
            SELECT 'click' AS source, ROW_NUMBER() OVER (ORDER BY hval) AS pos, hval FROM ca
            UNION ALL
            SELECT 'purchase', ROW_NUMBER() OVER (ORDER BY hval), hval FROM pa
            UNION ALL
            SELECT 'union', ROW_NUMBER() OVER (ORDER BY hval), hval FROM ua
        )
        ORDER BY source, pos
    """,
    "q_hll_registers": """
        WITH keyed AS (
            SELECT md5(CAST(o_custkey AS VARCHAR)) AS h FROM orders
        ), hashed AS (
            SELECT CAST(('0x' || substring(h, 1, 2)) AS BIGINT) % 64 AS register,
                   CAST(('0x' || substring(h, 3, 15)) AS BIGINT) AS v
            FROM keyed
        ), regs AS (
            SELECT register,
                   MAX(CASE WHEN v = 0 THEN 61 ELSE 61 - length(bin(v)) END) AS rank
            FROM hashed GROUP BY register
        )
        SELECT g.register, CAST(COALESCE(r.rank, 0) AS INTEGER) AS rank
        FROM generate_series(0, 63) AS g(register)
        LEFT JOIN regs r ON r.register = g.register
        ORDER BY g.register
    """,
    "q_bloom_join": """
        SELECT c_custkey, c_name, c_acctbal
        FROM customer
        WHERE c_custkey IN (
            SELECT o_custkey FROM orders WHERE o_totalprice > 490000
        )
        ORDER BY c_custkey
    """,
    "q_span_dedup": """
        WITH toks AS (
            SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
            FROM documents
        ), grams AS (
            SELECT doc_id, CAST(i - 1 AS INTEGER) AS start,
                   array_to_string(t[i:i+7], ' ') AS g
            FROM toks, LATERAL unnest(range(1, len(t) - 8 + 2)) AS r(i)
            WHERE len(t) >= 8
        ), marked AS (
            SELECT doc_id, start, start + 8 AS e
            FROM (SELECT doc_id, start, COUNT(*) OVER (PARTITION BY g) AS cnt FROM grams)
            WHERE cnt >= 2
        ), flagged AS (
            SELECT doc_id, start, e,
                   CASE WHEN start > COALESCE(MAX(e) OVER (
                            PARTITION BY doc_id ORDER BY start
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                        THEN 1 ELSE 0 END AS new_span
            FROM marked
        ), spans AS (
            SELECT doc_id, start, e,
                   SUM(new_span) OVER (
                       PARTITION BY doc_id ORDER BY start
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span_id
            FROM flagged
        )
        SELECT doc_id,
               CAST(MIN(start) AS INTEGER) AS span_start,
               CAST(MAX(e) AS INTEGER) AS span_end,
               CAST(MAX(e) - MIN(start) AS INTEGER) AS span_tokens
        FROM spans
        GROUP BY doc_id, span_id
        ORDER BY doc_id, span_start
    """,
    # Shares q_span_dedup's detection CTEs verbatim, then rebuilds each
    # document minus its spans via nested lambdas (outer index captured
    # in the inner span probe) and digests the result.
    "q_span_scrub": """
        WITH toks AS (
            SELECT doc_id, lang, list_filter(string_split(text, ' '), x -> x <> '') AS t
            FROM documents
        ), grams AS (
            SELECT doc_id, CAST(i - 1 AS INTEGER) AS start,
                   array_to_string(t[i:i+7], ' ') AS g
            FROM toks, LATERAL unnest(range(1, len(t) - 8 + 2)) AS r(i)
            WHERE len(t) >= 8
        ), marked AS (
            SELECT doc_id, start, start + 8 AS e
            FROM (SELECT doc_id, start, COUNT(*) OVER (PARTITION BY g) AS cnt FROM grams)
            WHERE cnt >= 2
        ), flagged AS (
            SELECT doc_id, start, e,
                   CASE WHEN start > COALESCE(MAX(e) OVER (
                            PARTITION BY doc_id ORDER BY start
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                        THEN 1 ELSE 0 END AS new_span
            FROM marked
        ), spans AS (
            SELECT doc_id, MIN(start) AS lo, MAX(e) AS hi
            FROM (
                SELECT doc_id, start, e,
                       SUM(new_span) OVER (
                           PARTITION BY doc_id ORDER BY start
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span_id
                FROM flagged
            )
            GROUP BY doc_id, span_id
        ), sp AS (
            SELECT doc_id, list(struct_pack(lo := lo, hi := hi)) AS sp
            FROM spans GROUP BY doc_id
        ), rebuilt AS (
            SELECT d.doc_id, d.lang,
                   d.t,
                   list_transform(
                       list_filter(range(1, len(d.t) + 1),
                                   i -> len(list_filter(COALESCE(s.sp, []),
                                            sx -> i - 1 >= sx.lo AND i - 1 < sx.hi)) = 0),
                       i -> d.t[i]) AS kept
            FROM toks d LEFT JOIN sp s ON s.doc_id = d.doc_id
        )
        SELECT doc_id, lang,
               CAST(len(t) - len(kept) AS INTEGER) AS n_removed,
               -- array_to_string([]) is NULL in DuckDB, '' in Spark
               md5(COALESCE(array_to_string(kept, ' '), '')) AS clean_md5,
               CAST(length(COALESCE(array_to_string(kept, ' '), '')) AS INTEGER)
                   AS clean_len
        FROM rebuilt
        ORDER BY doc_id
    """,
    "q_dedup_report": """
        WITH per_hash AS (
            SELECT md5(lower(trim(text))) AS h,
                   COUNT(*) AS n_docs,
                   SUM(length(text)) AS chars_all,
                   MIN(length(text)) AS chars_keep
            FROM documents GROUP BY 1
        )
        SELECT CAST(SUM(n_docs) AS BIGINT) AS total_docs,
               CAST(COUNT(*) AS BIGINT) AS unique_docs,
               CAST(SUM(n_docs) - COUNT(*) AS BIGINT) AS duplicate_docs,
               FLOOR(CAST(SUM(n_docs) - COUNT(*) AS DOUBLE) / SUM(n_docs) * 10000)
                   / 10000 AS dup_rate,
               CAST(SUM(chars_all) AS BIGINT) AS chars_total,
               CAST(SUM(chars_all) - SUM(chars_keep) AS BIGINT) AS chars_reclaimed
        FROM per_hash
    """,
    "q_countmin_topk": """
        WITH toks AS (
            SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS token
            FROM documents
        ), cells AS (
            SELECT r.i AS row_i,
                   CAST(('0x' || substring(md5(CAST(r.i AS VARCHAR) || ':' || token), 1, 8))
                        AS BIGINT) % 256 AS bucket,
                   CAST(COUNT(*) AS BIGINT) AS cell
            FROM toks CROSS JOIN (VALUES (0), (1), (2), (3)) AS r(i)
            GROUP BY 1, 2
        ), exact AS (
            SELECT token, CAST(COUNT(*) AS BIGINT) AS exact_n
            FROM toks GROUP BY token
            ORDER BY exact_n DESC, token LIMIT 20
        )
        SELECT e.token, e.exact_n, MIN(c.cell) AS cm_est
        FROM exact e
        CROSS JOIN (VALUES (0), (1), (2), (3)) AS r(i)
        JOIN cells c
          ON c.row_i = r.i
         AND c.bucket = CAST(('0x' || substring(md5(CAST(r.i AS VARCHAR) || ':' || e.token), 1, 8))
                             AS BIGINT) % 256
        GROUP BY e.token, e.exact_n
        ORDER BY exact_n DESC, token
    """,
    "q_skew_topk": """
        SELECT lang, doc_id, n_chars, CAST(rank AS INTEGER) AS rank
        FROM (
            SELECT lang, doc_id, n_chars,
                   ROW_NUMBER() OVER (
                       PARTITION BY lang ORDER BY n_chars DESC, doc_id
                   ) AS rank
            FROM documents
        )
        WHERE rank <= 5
        ORDER BY lang, rank
    """,
    "q_incremental_mart": """
        SELECT o_orderpriority,
               CAST(month(o_orderdate) AS INTEGER) AS o_month,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 100.0
                   AS revenue,
               MIN(o_totalprice) AS min_price,
               MAX(o_totalprice) AS max_price
        FROM orders
        GROUP BY o_orderpriority, CAST(month(o_orderdate) AS INTEGER)
        ORDER BY o_orderpriority, o_month
    """,
    "q_weighted_sample": """
        SELECT doc_id, lang, n_chars
        FROM documents
        WHERE CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
              % 10000 < LEAST(10000, n_chars * 8)
        ORDER BY doc_id
    """,
    "q_project_cast_alias": """
        SELECT l_orderkey, l_linenumber,
               CAST(FLOOR(l_quantity) AS BIGINT) AS qty_floor,
               l_returnflag AS rflag,
               l_extendedprice * (1 - l_discount) AS net_price
        FROM lineitem
    """,
    "q_filter_conj": """
        SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_tax
        FROM lineitem
        WHERE l_discount < l_tax AND l_quantity < 10 AND l_returnflag = 'R'
    """,
    "q_filter_notnull": """
        SELECT o_orderkey, o_custkey
        FROM orders
        WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL
    """,
    "q_subtract": """
        SELECT l_orderkey, l_linenumber, l_returnflag FROM lineitem
        EXCEPT
        SELECT l_orderkey, l_linenumber, l_returnflag FROM lineitem WHERE l_quantity < 25
    """,
    "q_union_dedup": """
        SELECT c_nationkey AS nationkey FROM customer
        UNION
        SELECT s_nationkey AS nationkey FROM supplier
    """,
    "q_union_byname": """
        SELECT c_custkey AS ent_id, c_name AS name, c_acctbal AS acctbal,
               'customer' AS role, c_mktsegment AS segment
        FROM customer
        UNION ALL BY NAME
        SELECT s_suppkey AS ent_id, s_name AS name, s_acctbal AS acctbal,
               'supplier' AS role
        FROM supplier
    """,
    "q_literal_lookup": """
        SELECT severity, COUNT(*) AS n_events
        FROM events
        JOIN (VALUES ('error', 3), ('purchase', 1), ('signup', 1),
                     ('click', 0), ('view', 0)) AS lookup(event_type, severity)
          USING (event_type)
        GROUP BY severity
    """,
    "q_intersect": """
        SELECT c_custkey AS custkey FROM customer
        INTERSECT
        SELECT o_custkey AS custkey FROM orders
    """,
    "q_distinct_dim": """
        SELECT DISTINCT o_custkey, o_orderpriority FROM orders
    """,
    "q_date_parts": """
        SELECT o_orderkey,
               CAST(year(o_orderdate) AS INTEGER)       AS y,
               CAST(month(o_orderdate) AS INTEGER)      AS m,
               CAST(day(o_orderdate) AS INTEGER)        AS d,
               CAST(weekofyear(o_orderdate) AS INTEGER) AS wk,
               CAST(dayofweek(o_orderdate) + 1 AS INTEGER) AS dow,
               CAST(quarter(o_orderdate) AS INTEGER)    AS q
        FROM orders
    """,
    "q_generate_series": """
        SELECT range                AS ts,
               CAST(hour(range) AS INTEGER)          AS hour,
               CAST(day(range) AS INTEGER)           AS day,
               CAST(weekofyear(range) AS INTEGER)    AS week,
               CAST(month(range) AS INTEGER)         AS month,
               CAST(dayofweek(range) + 1 AS INTEGER) AS weekday,
               CAST(year(range) AS INTEGER)          AS year,
               CAST(quarter(range) AS INTEGER)       AS quarter
        FROM range(TIMESTAMP '2020-01-01', TIMESTAMP '2020-12-31', INTERVAL 1 HOUR)
    """,
    "q_unpivot": """
        SELECT l_orderkey, l_linenumber, measure, val
        FROM (SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_tax FROM lineitem)
        UNPIVOT (val FOR measure IN (l_quantity, l_discount, l_tax))
    """,
    "q_star_join": """
        SELECT r_name,
               CAST(year(o_orderdate) AS INTEGER)  AS o_year,
               CAST(month(o_orderdate) AS INTEGER) AS o_month,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               COUNT(*) AS n_items
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        GROUP BY r_name, year(o_orderdate), month(o_orderdate)
    """,
    "q_left_join_multikey": """
        SELECT o_orderkey, o_totalprice, l_linenumber, l_quantity
        FROM orders
        LEFT JOIN lineitem ON o_orderkey = l_orderkey AND l_quantity > 45
    """,
    "q_anti_orphans": """
        SELECT c_custkey, c_name FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    "q_semi_active": """
        SELECT c_custkey, c_name FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    "q_self_role_join": """
        SELECT n1.n_name AS cust_nation,
               n2.n_name AS supp_nation,
               COUNT(*)  AS n_items,
               CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100)
                             AS BIGINT)) AS BIGINT) / 100 AS revenue
        FROM lineitem
        JOIN orders    ON l_orderkey = o_orderkey
        JOIN customer  ON o_custkey = c_custkey
        JOIN supplier  ON l_suppkey = s_suppkey
        JOIN nation n1 ON c_nationkey = n1.n_nationkey
        JOIN nation n2 ON s_nationkey = n2.n_nationkey
        GROUP BY n1.n_name, n2.n_name
    """,
    "q_agg_monthly": """
        SELECT CAST(year(l_shipdate) AS INTEGER)  AS ship_year,
               CAST(month(l_shipdate) AS INTEGER) AS ship_month,
               COUNT(*) AS n_items,
               ROUND(SUM(l_quantity), 2) AS sum_qty,
               FLOOR(CAST(SUM(CAST(FLOOR(l_extendedprice * 100) AS BIGINT))
                          AS BIGINT) / COUNT(*)) / 100 AS avg_price,
               MIN(l_discount) AS min_disc,
               MAX(l_discount) AS max_disc,
               COUNT(DISTINCT l_orderkey) AS n_orders
        FROM lineitem
        GROUP BY year(l_shipdate), month(l_shipdate)
    """,
    "q_tpch_q1": """
        SELECT l_returnflag, l_linestatus,
               ROUND(SUM(l_quantity), 2) AS sum_qty,
               ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
               ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
               ROUND(AVG(l_quantity), 2) AS avg_qty,
               ROUND(AVG(l_extendedprice), 2) AS avg_price,
               ROUND(AVG(l_discount), 4) AS avg_disc,
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
    """,
    "q_tpch_q3": """
        SELECT l_orderkey, o_orderdate,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-01-01'
          AND l_shipdate > TIMESTAMP '1996-01-01'
        GROUP BY l_orderkey, o_orderdate
        ORDER BY revenue DESC, l_orderkey
        LIMIT 10
    """,
    "q_tpch_q4": """
        SELECT o_orderpriority, COUNT(*) AS order_count
        FROM orders o
        WHERE EXISTS (SELECT 1 FROM lineitem l
                      WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 48)
        GROUP BY o_orderpriority
    """,
    "q_tpch_q10": """
        SELECT c_custkey, c_name, n_name,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        WHERE l_returnflag = 'R'
        GROUP BY c_custkey, c_name, n_name
        ORDER BY revenue DESC, c_custkey
        LIMIT 20
    """,
    "q_stats_agg": """
        SELECT l_returnflag,
               FLOOR(stddev_samp(l_extendedprice) * 100) / 100 AS price_stddev,
               FLOOR(var_samp(l_quantity) * 10000) / 10000 AS qty_var,
               FLOOR(corr(l_quantity, l_extendedprice) * 100000) / 100000 AS qty_price_corr,
               FLOOR(covar_samp(l_discount, l_tax) * 10000000) / 10000000 AS disc_tax_covar
        FROM lineitem
        GROUP BY l_returnflag
    """,
    "q_case_buckets": """
        SELECT l_returnflag,
               ROUND(SUM(CASE WHEN l_quantity < 25 THEN l_extendedprice END), 2) AS small_rev,
               ROUND(SUM(CASE WHEN l_quantity >= 25 THEN l_extendedprice END), 2) AS large_rev,
               COUNT(CASE WHEN l_discount > 0.05 THEN 1 END) AS n_discounted
        FROM lineitem
        GROUP BY l_returnflag
    """,
    "q_tpch_q13": """
        SELECT c_count, COUNT(*) AS custdist
        FROM (
            SELECT c_custkey, COUNT(o_orderkey) AS c_count
            FROM customer
            LEFT JOIN orders ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
            GROUP BY c_custkey
        )
        GROUP BY c_count
    """,
    "q_tpch_q6": """
        SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
          AND l_discount >= 0.03 AND l_discount <= 0.07
          AND l_quantity < 24
    """,
    "q_rollup": """
        SELECT CAST(year(o_orderdate) AS INTEGER)  AS o_year,
               CAST(month(o_orderdate) AS INTEGER) AS o_month,
               CAST(GROUPING(year(o_orderdate), month(o_orderdate)) AS BIGINT) AS gid,
               COUNT(*) AS n_orders,
               ROUND(SUM(o_totalprice), 2) AS total_price
        FROM orders
        GROUP BY ROLLUP (year(o_orderdate), month(o_orderdate))
    """,
    "q_cube": """
        SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
               o_orderstatus,
               CAST(GROUPING(year(o_orderdate), o_orderstatus) AS BIGINT) AS gid,
               COUNT(*) AS n_orders,
               ROUND(SUM(o_totalprice), 2) AS total_price
        FROM orders
        GROUP BY CUBE (year(o_orderdate), o_orderstatus)
    """,
    "q_full_outer_join": """
        SELECT c_custkey, c_name, o_orderkey, o_totalprice
        FROM customer FULL JOIN orders ON c_custkey = o_custkey
    """,
    "q_cross_join": """
        SELECT r_name, n_name FROM region CROSS JOIN nation
    """,
    "q_percentiles": """
        SELECT o_orderpriority,
               ROUND(quantile_cont(o_totalprice, 0.25), 2) AS p25,
               ROUND(quantile_cont(o_totalprice, 0.5), 2)  AS p50,
               ROUND(quantile_cont(o_totalprice, 0.75), 2) AS p75
        FROM orders
        GROUP BY o_orderpriority
    """,
    "q_salted_join_equiv": """
        SELECT s_nationkey,
               COUNT(*) AS n_lines,
               ROUND(SUM(l_extendedprice), 2) AS revenue
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        GROUP BY s_nationkey
    """,
    "q_epoch_arith": """
        SELECT event_id,
               epoch_ms(ts) AS epoch_ms,
               epoch_ms(ts) // 1000 AS epoch_sec,
               epoch_ms(epoch_ms(ts)) AS ts_ms,
               TIMESTAMP 'epoch' + (epoch_ms(ts) // 1000) * INTERVAL '1 second' AS ts_sec
        FROM events
    """,
    "q_correlated_subquery": """
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders o
        WHERE o_totalprice > (SELECT AVG(o2.o_totalprice)
                              FROM orders o2
                              WHERE o2.o_custkey = o.o_custkey)
    """,
    "q_lateral_topn": """
        SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        FROM customer c
        JOIN LATERAL (
            SELECT o_orderkey, o_totalprice
            FROM orders
            WHERE o_custkey = c.c_custkey
            ORDER BY o_totalprice DESC, o_orderkey
            LIMIT 2
        ) t ON true
    """,
    "q_count_quality": """
        SELECT COUNT(*) AS n_rows,
               COUNT(CASE WHEN o_custkey IS NULL THEN 1 END) AS n_null_custkey,
               COUNT(CASE WHEN o_orderdate IS NULL THEN 1 END) AS n_null_date,
               COUNT(DISTINCT o_orderkey) AS n_distinct_pk
        FROM orders
    """,
    "q_topk": """
        SELECT o_custkey, ROUND(SUM(o_totalprice), 2) AS total_spent
        FROM orders
        GROUP BY o_custkey
        ORDER BY total_spent DESC, o_custkey
        LIMIT 10
    """,
    "q_pivot_flags": """
        SELECT l_returnflag,
               COUNT(CASE WHEN l_linestatus = 'O' THEN 1 END) AS status_o,
               COUNT(CASE WHEN l_linestatus = 'F' THEN 1 END) AS status_f
        FROM lineitem
        GROUP BY l_returnflag
    """,
    "q_window_rank": """
        SELECT o_orderkey, o_custkey,
               CAST(rn AS INTEGER) AS rn,
               CAST(price_rank AS INTEGER) AS price_rank
        FROM (
            SELECT o_orderkey, o_custkey,
                   ROW_NUMBER() OVER (PARTITION BY o_custkey
                                      ORDER BY o_orderdate DESC, o_orderkey) AS rn,
                   RANK() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS price_rank
            FROM orders
        ) WHERE rn <= 5
    """,
    "q_window_range_frame": """
        WITH o AS (
            SELECT *, epoch_us(o_orderdate) // 86400000000 AS order_day
            FROM orders
        )
        SELECT o_orderkey, o_custkey,
               ROUND(SUM(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY order_day
                     RANGE BETWEEN 30 PRECEDING AND CURRENT ROW), 2) AS trailing_30d_spend,
               FIRST_VALUE(o_orderkey) OVER (PARTITION BY o_custkey
                     ORDER BY o_orderdate, o_orderkey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS first_order,
               LAST_VALUE(o_orderkey) OVER (PARTITION BY o_custkey
                     ORDER BY o_orderdate, o_orderkey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_order
        FROM o
    """,
    "q_ntile_percent_rank": """
        SELECT o_orderkey,
               CAST(ntile(4) OVER w AS INTEGER) AS quartile,
               ROUND(percent_rank() OVER w, 6) AS pct_rank
        FROM orders
        WINDOW w AS (ORDER BY o_totalprice DESC, o_orderkey)
    """,
    "q_string_null_funcs": """
        SELECT c_custkey,
               concat_ws('|', upper(c_mktsegment), lower(c_name)) AS seg_name,
               substring(c_name, 1, 8) AS name_prefix,
               lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS padded_key,
               replace(c_name, 'Customer', 'Cust') AS short_name,
               CAST(length(trim(c_name)) AS INTEGER) AS name_len,
               COALESCE(NULLIF(c_mktsegment, 'BUILDING'), 'OTHER') AS segment_or_other
        FROM customer
        WHERE c_name LIKE '%1%'
    """,
    "q_window_running": """
        SELECT event_id, user_id,
               ROUND(SUM(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
                   AS running_value,
               LAG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value,
               LEAD(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_value
        FROM events
    """,
    "q_json_extract": """
        SELECT event_type,
               COUNT(*) AS n,
               CAST(SUM(CAST(props ->> '$.k' AS INTEGER)) AS BIGINT) AS sum_k,
               FLOOR(AVG(CAST(props ->> '$.k' AS INTEGER)) * 100) / 100 AS avg_k
        FROM events
        GROUP BY event_type
    """,
    "q_grouping_sets": """
        SELECT CAST(year(o_orderdate) AS INTEGER)  AS o_year,
               CAST(month(o_orderdate) AS INTEGER) AS o_month,
               COUNT(*) AS n_orders,
               ROUND(SUM(o_totalprice), 2) AS total_price
        FROM orders
        GROUP BY GROUPING SETS ((year(o_orderdate), month(o_orderdate)), (year(o_orderdate)))
    """,
    "q_date_arith": """
        SELECT l_orderkey, l_linenumber,
               CAST(date_diff('day', DATE '1995-01-01', l_shipdate) AS INTEGER) AS days_since_95,
               CAST(CAST(l_shipdate AS DATE) + INTERVAL 30 DAY AS TIMESTAMP) AS ship_plus_30,
               CAST(CAST(l_shipdate AS DATE) + INTERVAL 3 MONTH AS TIMESTAMP) AS ship_plus_3m,
               CAST(last_day(l_shipdate) AS TIMESTAMP) AS month_end,
               CAST(date_trunc('month', l_shipdate) AS TIMESTAMP) AS ship_month_start,
               strftime(l_shipdate, '%Y-%m-%d %H:%M:%S') AS ship_formatted
        FROM lineitem
    """,
    "q_map_funcs": """
        SELECT event_id,
               CAST(props ->> '$.k' AS INTEGER) AS k_val,
               CAST(len(json_keys(props)) AS INTEGER) AS n_keys,
               array_to_string(list_sort(json_keys(props)), ',') AS key_list
        FROM events
    """,
    "q_json_struct": """
        SELECT event_id,
               CAST(props ->> '$.k' AS INTEGER) AS k,
               CAST(props ->> '$.k' AS INTEGER) % 10 = 0 AS k_round
        FROM events
    """,
    "q_array_stats": """
        WITH v AS (SELECT vec_id, embedding, CAST(embedding AS DOUBLE[]) AS d FROM embeddings)
        SELECT vec_id,
               CAST(len(embedding) AS INTEGER) AS dim,
               ROUND(sqrt(list_aggregate(list_transform(d, x -> x * x), 'sum')), 4) AS l2_norm,
               CAST(len(list_filter(d, x -> x > 0)) AS INTEGER) AS n_positive,
               ROUND(list_aggregate(d, 'max'), 4) AS max_val
        FROM v
    """,
    "q_tumbling_hour": """
        SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start,
               COUNT(*) AS n_events,
               ROUND(SUM(value), 2) AS sum_value
        FROM events
        GROUP BY 1
    """,
    "q_sliding_windows": """
        WITH ev AS (
            SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS h, value FROM events
        ), expanded AS (
            SELECT CAST(g.s AS TIMESTAMP) AS window_start, value
            FROM ev, LATERAL unnest([h - INTERVAL 1 HOUR, h]) AS g(s)
        )
        SELECT window_start,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) / 100.0
                   AS sum_value
        FROM expanded
        GROUP BY window_start
        ORDER BY window_start
    """,
    "q_histogram2d": """
        SELECT CAST(FLOOR(o_totalprice / 50000) AS INTEGER) AS price_band,
               CAST(month(o_orderdate) AS INTEGER) AS o_month,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 100.0
                   AS revenue
        FROM orders
        GROUP BY 1, 2
        ORDER BY price_band, o_month
    """,
    "q_rolling_time_window": """
        WITH e AS (
            SELECT event_id, event_type,
                   -- epoch() is fractional and CAST rounds in DuckDB;
                   -- Spark's unix_timestamp truncates -> FLOOR first
                   CAST(FLOOR(epoch(ts)) AS BIGINT) AS epoch_s,
                   CAST(FLOOR(value * 100) AS BIGINT) AS cents
            FROM events
        )
        SELECT event_id, event_type,
               CAST(COUNT(*) OVER w AS BIGINT) AS n_trailing_hour,
               CAST(SUM(cents) OVER w AS BIGINT) / 100.0 AS value_trailing_hour
        FROM e
        WINDOW w AS (PARTITION BY event_type ORDER BY epoch_s
                     RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
        ORDER BY event_id
    """,
    "q_gap_fill": """
        WITH base AS (
            SELECT event_type, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_ts,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM events GROUP BY 1, 2
        ), bounds AS (
            SELECT MIN(hour_ts) AS lo, MAX(hour_ts) AS hi FROM base
        ), spine AS (
            SELECT t.event_type, CAST(g.h AS TIMESTAMP) AS hour_ts
            FROM (SELECT DISTINCT event_type FROM base) t
            CROSS JOIN bounds b,
            LATERAL unnest(generate_series(b.lo, b.hi, INTERVAL 1 HOUR)) AS g(h)
        )
        SELECT s.event_type, s.hour_ts,
               COALESCE(b.n, 0) AS n_actual,
               COALESCE(LAST_VALUE(b.n IGNORE NULLS) OVER (
                   PARTITION BY s.event_type ORDER BY s.hour_ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS n_filled
        FROM spine s
        LEFT JOIN base b ON b.event_type = s.event_type AND b.hour_ts = s.hour_ts
        ORDER BY s.event_type, s.hour_ts
    """,
    "q_asof_join": """
        SELECT e.event_id, e.user_id, p.value AS purchase_value
        FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error') e
        ASOF LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') p
          ON e.user_id = p.user_id AND e.ts >= p.ts
    """,
    "q_range_bucket_join": """
        SELECT b.bucket_ts, COUNT(e.event_id) AS n_events
        FROM (SELECT range AS bucket_ts
              FROM range(TIMESTAMP '2024-01-01', TIMESTAMP '2024-02-01', INTERVAL 1 HOUR)) b
        LEFT JOIN events e ON date_trunc('hour', e.ts) = b.bucket_ts
        GROUP BY b.bucket_ts
    """,
    "q_sql_surrogate_keys": """
        SELECT md5(concat(CAST(user_id AS VARCHAR), ':', event_type)) AS user_type_key,
               user_id,
               event_type,
               COUNT(*) AS n,
               MIN(ts) AS first_ts
        FROM events
        WHERE event_type IN ('purchase', 'signup')
        GROUP BY user_id, event_type
    """,
    "q_sessionize": """
        WITH lagged AS (
            SELECT user_id, ts,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800 * 1000000
                        THEN 1 ELSE 0 END AS is_new
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), sess AS (
            SELECT user_id, ts,
                   CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS session_id
            FROM lagged
        )
        SELECT user_id, session_id,
               COUNT(*) AS n_events,
               MIN(ts) AS session_start,
               MAX(ts) AS session_end
        FROM sess
        GROUP BY user_id, session_id
    """,
    "q_session_window_batch": """
        -- lag+cumsum replay of Spark's BUILT-IN session_window gap rule —
        -- the boundary is INCLUSIVE (an event at exactly last + gap merges,
        -- pinned in tests/test_operators.py), so this is the SAME `>` test
        -- as q_sessionize's oracle, just without the session ordinal
        WITH lagged AS (
            SELECT user_id, ts,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800 * 1000000
                        THEN 1 ELSE 0 END AS is_new
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), sess AS (
            SELECT user_id, ts,
                   SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS session_id
            FROM lagged
        )
        SELECT user_id,
               MIN(ts) AS session_start,
               MAX(ts) AS session_end,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM sess
        GROUP BY user_id, session_id
        ORDER BY user_id, session_start
    """,
    "q_funnel": """
        WITH per_user AS (
            SELECT user_id,
                   MIN(CASE WHEN event_type = 'signup' THEN ts END) AS first_signup
            FROM events GROUP BY user_id
        ), fp AS (
            SELECT e.user_id, MIN(e.ts) AS first_purchase_after_signup
            FROM events e JOIN per_user p ON e.user_id = p.user_id
            WHERE e.event_type = 'purchase' AND e.ts >= p.first_signup
            GROUP BY e.user_id
        )
        SELECT p.user_id, p.first_signup, fp.first_purchase_after_signup,
               p.first_signup IS NOT NULL AND fp.first_purchase_after_signup IS NOT NULL
                   AS converted
        FROM per_user p LEFT JOIN fp ON p.user_id = fp.user_id
    """,
    "q_dedup_keep_best": """
        SELECT source,
               arg_max(doc_id, n_chars * 100000 + doc_id) AS best_doc,
               MAX(n_chars) AS best_chars,
               COUNT(*) AS n_docs
        FROM documents
        GROUP BY source
    """,
    "q_bpe_merge_step": """
        -- one BPE step, greedy non-overlap merge implemented the OTHER
        -- way (window run-grouping, even offsets within a match run)
        -- to cross-check the Spark fold. Symbols = chars + '</w>'.
        WITH words AS (
            SELECT token AS word, CAST(COUNT(*) AS BIGINT) AS freq
            FROM (
                SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS token
                FROM documents
            )
            GROUP BY 1
        ), syms AS (
            SELECT word, freq, i AS pos,
                   CASE WHEN i <= length(word) THEN substring(word, i, 1)
                        ELSE '</w>' END AS sym
            FROM words, UNNEST(range(1, length(word) + 2)) AS t(i)
        ), pc0 AS (
            SELECT s1.sym AS a, s2.sym AS b, SUM(s1.freq) AS cnt
            FROM syms s1 JOIN syms s2 ON s1.word = s2.word AND s2.pos = s1.pos + 1
            GROUP BY 1, 2
        ), chosen AS (
            SELECT a, b FROM pc0 ORDER BY cnt DESC, a, b LIMIT 1
        ), matched AS (
            SELECT s.word, s.freq, s.pos, s.sym,
                   (s.sym = (SELECT a FROM chosen)
                    AND lead(s.sym) OVER (PARTITION BY s.word ORDER BY s.pos)
                        = (SELECT b FROM chosen)) AS m
            FROM syms s
        ), taken AS (
            -- greedy left-to-right non-overlap == within each run of
            -- consecutive match positions, keep the even offsets
            SELECT word, pos
            FROM (
                SELECT word, pos,
                       pos - ROW_NUMBER() OVER (PARTITION BY word ORDER BY pos) AS grp
                FROM matched WHERE m
            )
            QUALIFY (pos - MIN(pos) OVER (PARTITION BY word, grp)) % 2 = 0
        ), new_syms AS (
            SELECT s.word, s.freq,
                   ROW_NUMBER() OVER (PARTITION BY s.word ORDER BY s.pos) AS pos,
                   CASE WHEN tk.pos IS NOT NULL
                        THEN (SELECT a || b FROM chosen) ELSE s.sym END AS sym
            FROM syms s
            LEFT JOIN taken tk ON tk.word = s.word AND tk.pos = s.pos
            LEFT JOIN taken absorbed
                   ON absorbed.word = s.word AND absorbed.pos = s.pos - 1
            WHERE absorbed.pos IS NULL
        )
        SELECT s1.sym AS a, s2.sym AS b, CAST(SUM(s1.freq) AS BIGINT) AS cnt
        FROM new_syms s1 JOIN new_syms s2 ON s1.word = s2.word AND s2.pos = s1.pos + 1
        GROUP BY 1, 2
        ORDER BY cnt DESC, a, b
        LIMIT 20
    """,
    "q_histogram_quantiles": """
        -- replay of histogram_sketch + histogram_quantiles, all-integer:
        -- width-100 bins over [0, 110000), rank k = ceil-div of q_bp*N
        -- by 10000, covering bin = smallest cumulative >= k, estimate =
        -- bin_lo + floor(w*(k-cum_before-1)*10000/cnt) / 10000
        WITH sk AS (
            SELECT LEAST(1099, GREATEST(0,
                       CAST(FLOOR((l_extendedprice - 0) / 100) AS BIGINT))) AS bin,
                   CAST(COUNT(*) AS BIGINT) AS cnt
            FROM lineitem GROUP BY 1
        ), cum AS (
            SELECT bin, cnt,
                   SUM(cnt) OVER (ORDER BY bin
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                   SUM(cnt) OVER (ORDER BY bin
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cnt
                       AS cum_before
            FROM sk
        ), total AS (
            SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM sk
        ), ranked AS (
            SELECT q.q_bp, CAST((q.q_bp * t.n + 9999) // 10000 AS BIGINT) AS k
            FROM (VALUES (5000), (9000), (9900)) AS q(q_bp)
            CROSS JOIN total t
        ), covering AS (
            SELECT r.q_bp, r.k,
                   MIN(c.bin) AS bin
            FROM ranked r JOIN cum c ON c.cum >= r.k
            GROUP BY r.q_bp, r.k
        )
        SELECT CAST(v.q_bp AS INTEGER) AS q_bp,
               ((0 + v.bin * 100) * 10000
                + CAST(FLOOR(100 * (v.k - c.cum_before - 1) * 10000 / c.cnt) AS BIGINT)
               ) / 10000.0 AS est
        FROM covering v JOIN cum c ON c.bin = v.bin
        ORDER BY q_bp
    """,
    "q_hybrid_search_rrf": """
        -- reciprocal-rank fusion of the BM25 lexical top-100 and the
        -- cosine semantic top-100 (probe = embedding of vec_id 0).
        -- Ranks are taken over the round-4 / round-6 scores both
        -- engines already hash-agree on (q_bm25_search, q_cosine_topk),
        -- ties by id; contributions are floor(1e9/(60+rank)) BIGINTs so
        -- the fusion sum is exact integer arithmetic.
        WITH toks AS (
            SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
            FROM documents
        ), lengths AS (
            SELECT doc_id, CAST(len(t) AS DOUBLE) AS dl FROM toks
        ), stats AS (
            SELECT CAST(COUNT(*) AS DOUBLE) AS n, AVG(dl) AS avgdl FROM lengths
        ), tf AS (
            SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf
            FROM (
                SELECT doc_id,
                       unnest(list_filter(t, x -> x IN ('spark', 'vector', 'stream'))) AS term
                FROM toks
            )
            GROUP BY doc_id, term
        ), dfreq AS (
            SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY term
        ), bm25 AS (
            SELECT tf.doc_id,
                   ROUND(SUM(
                       ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5))
                       * (tf.tf * (1.2 + 1))
                       / (tf.tf + 1.2 * ((1 - 0.75) + 0.75 * l.dl / s.avgdl))
                   ), 4) AS score
            FROM tf
            JOIN dfreq d USING (term)
            JOIN lengths l ON l.doc_id = tf.doc_id
            CROSS JOIN stats s
            GROUP BY tf.doc_id
        ), lex AS (
            SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id)
                                AS INTEGER) AS lex_rank
            FROM (SELECT * FROM bm25 ORDER BY score DESC, doc_id LIMIT 100)
        ), sem_scored AS (
            SELECT e.vec_id AS doc_id,
                   ROUND(list_cosine_similarity(
                       e.embedding,
                       (SELECT embedding FROM embeddings WHERE vec_id = 0)), 6) AS sim
            FROM embeddings e
        ), sem AS (
            SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY sim DESC, doc_id)
                                AS INTEGER) AS sem_rank
            FROM (SELECT * FROM sem_scored ORDER BY sim DESC, doc_id LIMIT 100)
        )
        SELECT COALESCE(lex.doc_id, sem.doc_id) AS doc_id,
               lex.lex_rank, sem.sem_rank,
               CAST(COALESCE(CAST(FLOOR(1000000000 / (60 + lex.lex_rank)) AS BIGINT), 0)
                    + COALESCE(CAST(FLOOR(1000000000 / (60 + sem.sem_rank)) AS BIGINT), 0)
                    AS BIGINT) AS rrf
        FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id
        ORDER BY rrf DESC, doc_id
        LIMIT 20
    """,
    "q_sequence_pack": """
        -- replay of operators/packing.pack_sequences: portable md5
        -- sharding (sampling._bucket basis), then the greedy no-split
        -- fold as a RECURSIVE CTE stepping one doc per shard per
        -- iteration. State (seq_id, cum): a doc joins the open sequence
        -- iff cum + tc <= 64, else seq_id+1 / cum reset; a doc opening
        -- a sequence always enters it, even when tc > 64 (the
        -- overflowing singleton branch).
        WITH RECURSIVE ordered AS (
            SELECT CAST(CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                             AS BIGINT) % 8 AS INTEGER) AS shard,
                   doc_id,
                   CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
                        AS INTEGER) AS n_tokens,
                   ROW_NUMBER() OVER (
                       PARTITION BY CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                                         AS BIGINT) % 8
                       ORDER BY doc_id) AS rn
            FROM documents
        ), pack AS (
            SELECT shard, doc_id, n_tokens, rn,
                   CAST(1 AS BIGINT) AS seq_id,
                   CAST(0 AS BIGINT) AS "offset",
                   CAST(n_tokens AS BIGINT) AS cum
            FROM ordered WHERE rn = 1
            UNION ALL
            SELECT o.shard, o.doc_id, o.n_tokens, o.rn,
                   CASE WHEN p.cum + o.n_tokens > 64
                        THEN p.seq_id + 1 ELSE p.seq_id END,
                   CASE WHEN p.cum + o.n_tokens > 64
                        THEN 0 ELSE p.cum END,
                   CASE WHEN p.cum + o.n_tokens > 64
                        THEN o.n_tokens ELSE p.cum + o.n_tokens END
            FROM pack p JOIN ordered o ON o.shard = p.shard AND o.rn = p.rn + 1
        )
        SELECT shard, doc_id, n_tokens, seq_id, "offset" AS offset
        FROM pack
        ORDER BY shard, doc_id
    """,
    "q_hash_sample": """
        SELECT l_orderkey, l_linenumber, l_quantity
        FROM lineitem
        WHERE CAST(('0x' || substring(md5(CAST(l_orderkey AS VARCHAR)), 1, 8)) AS BIGINT)
              % 10000 < 2000
    """,
    "q_dedup_exact": """
        SELECT md5(lower(trim(text))) AS text_hash,
               MIN(doc_id) AS keep_id,
               COUNT(*) AS n_copies
        FROM documents
        GROUP BY 1
    """,
    "q_fingerprint_dedup": """
        SELECT md5(array_to_string(
                   list_sort(list_distinct(list_filter(string_split(text, ' '), x -> x <> ''))),
                   ' ')) AS fp,
               MIN(doc_id) AS keep_id,
               COUNT(*) AS n_docs
        FROM documents
        GROUP BY 1
    """,
    "q_text_tokens": """
        SELECT token, COUNT(*) AS n
        FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        WHERE token <> ''
        GROUP BY token
        ORDER BY n DESC, token
        LIMIT 50
    """,
    "q_posexplode": """
        WITH t AS (
            SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
            FROM documents
        )
        SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos, toks[i] AS tok
        FROM t, unnest(range(1, len(toks) + 1)) AS r(i)
        WHERE i - 1 < 5
    """,
    "q_collect_agg": """
        SELECT l_orderkey,
               array_to_string(list_sort(list(l_linenumber)), ',') AS line_numbers,
               COUNT(*) AS n_lines
        FROM lineitem
        GROUP BY l_orderkey
    """,
    "q_text_stats": """
        WITH toks AS (
            SELECT doc_id, lang, text,
                   list_filter(string_split(text, ' '), x -> x <> '') AS t
            FROM documents
        )
        SELECT doc_id, lang,
               CAST(length(text) AS BIGINT) AS n_chars,
               CAST(len(t) AS BIGINT) AS n_tokens,
               FLOOR(CAST(list_aggregate(list_transform(t, x -> length(x)), 'sum') AS DOUBLE)
                     / GREATEST(len(t), 1) * 100) / 100 AS avg_token_len,
               FLOOR(CAST(len(list_distinct(t)) AS DOUBLE) / GREATEST(len(t), 1) * 10000) / 10000
                   AS distinct_token_ratio
        FROM toks
    """,
    "q_lang_stats": """
        SELECT lang,
               COUNT(*) AS n_docs,
               FLOOR(AVG(n_chars) * 100) / 100 AS avg_chars,
               CAST(SUM(len(list_filter(string_split(text, ' '), x -> x <> ''))) AS BIGINT)
                   AS total_tokens
        FROM documents
        GROUP BY lang
    """,
    "q_regexp_funcs": """
        SELECT doc_id,
               CAST(regexp_extract(source, 'src(\\d+)', 1) AS INTEGER) AS source_num,
               regexp_replace(lang, '[aeiou]', '*', 'g') AS lang_masked,
               regexp_extract(text, '^(\\w+)', 1) AS first_token
        FROM documents
        WHERE regexp_matches(source, '^src[0-9]+$')
    """,
    "q_ngram_jaccard": """
        WITH docs_a AS (
            SELECT * FROM documents
            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
            LIMIT 1000
        ), toks AS (
            SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
            FROM docs_a
        ), sh AS (
            SELECT DISTINCT doc_id,
                   unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])) AS s
            FROM toks
            WHERE len(t) >= 2
        ), sizes AS (
            SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
        ), inter AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
            FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        )
        SELECT id_a, id_b,
               FLOOR(n_inter / (sa.n_sh + sb.n_sh - n_inter) * 10000) / 10000 AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE FLOOR(n_inter / (sa.n_sh + sb.n_sh - n_inter) * 10000) / 10000 >= 0.5
    """,
    # Same all-pairs truth, different plan: q_jaccard_prefix must reproduce
    # the full inverted-index result exactly (lossless prefix filter).
    "q_jaccard_prefix": """
        WITH toks AS (
            SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
            FROM documents
        ), sh AS (
            SELECT DISTINCT doc_id,
                   unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])) AS s
            FROM toks
            WHERE len(t) >= 2
        ), sizes AS (
            SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
        ), inter AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
            FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        )
        SELECT id_a, id_b,
               FLOOR(n_inter / (sa.n_sh + sb.n_sh - n_inter) * 10000) / 10000 AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE FLOOR(n_inter / (sa.n_sh + sb.n_sh - n_inter) * 10000) / 10000 >= 0.5
    """,
    "q_dedup_clusters": """
        WITH RECURSIVE docs_a AS (
            SELECT * FROM documents
            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
            LIMIT 1000
        ), toks AS (
            SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
            FROM docs_a
        ), sh AS (
            SELECT DISTINCT doc_id,
                   unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])) AS s
            FROM toks
            WHERE len(t) >= 2
        ), sizes AS (
            SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
        ), inter AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
            FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        ), pairs AS (
            SELECT id_a, id_b
            FROM inter
            JOIN sizes sa ON sa.doc_id = id_a
            JOIN sizes sb ON sb.doc_id = id_b
            WHERE FLOOR(n_inter / (sa.n_sh + sb.n_sh - n_inter) * 10000) / 10000 >= 0.5
        ), edges AS (
            SELECT id_a AS src, id_b AS dst FROM pairs
            UNION ALL
            SELECT id_b AS src, id_a AS dst FROM pairs
        ), reach AS (
            SELECT doc_id AS node, doc_id AS lab FROM docs_a
            UNION
            SELECT e.dst AS node, r.lab
            FROM reach r JOIN edges e ON e.src = r.node
        )
        SELECT node AS doc_id, MIN(lab) AS cluster_id
        FROM reach
        GROUP BY node
    """,
    "q_tpch_q5": """
        SELECT n_name,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1997-01-01'
        GROUP BY n_name
        ORDER BY revenue DESC, n_name
    """,
    "q_tpch_q7": """
        SELECT n1.n_name AS supp_nation,
               n2.n_name AS cust_nation,
               CAST(year(l_shipdate) AS INTEGER) AS l_year,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem
        JOIN orders    ON l_orderkey = o_orderkey
        JOIN customer  ON o_custkey = c_custkey
        JOIN supplier  ON l_suppkey = s_suppkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1998-01-01'
          AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
               OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        GROUP BY n1.n_name, n2.n_name, year(l_shipdate)
    """,
    "q_tpch_q8": """
        SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
               FLOOR(SUM(CASE WHEN n1.n_name = 'NATION_1'
                              THEN l_extendedprice * (1 - l_discount)
                              ELSE 0.0 END)
                     / SUM(l_extendedprice * (1 - l_discount)) * 10000) / 10000 AS mkt_share
        FROM lineitem
        JOIN part      ON l_partkey = p_partkey
        JOIN orders    ON l_orderkey = o_orderkey
        JOIN customer  ON o_custkey = c_custkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        JOIN region    ON n2.n_regionkey = r_regionkey
        JOIN supplier  ON l_suppkey = s_suppkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        WHERE p_type = 'PROMO'
          AND r_name = 'AMERICA'
          AND o_orderdate >= TIMESTAMP '1995-01-01'
          AND o_orderdate < TIMESTAMP '1997-01-01'
        GROUP BY year(o_orderdate)
    """,
    "q_tpch_q12": """
        SELECT o_orderstatus,
               COUNT(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 END)
                   AS high_line_count,
               COUNT(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 END)
                   AS low_line_count
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        WHERE l_shipdate >= CAST(CAST(o_orderdate AS DATE) + 60 AS TIMESTAMP)
        GROUP BY o_orderstatus
    """,
    "q_tpch_q14": """
        SELECT FLOOR(100.0
                     * SUM(CASE WHEN p_type = 'PROMO'
                                THEN l_extendedprice * (1 - l_discount)
                                ELSE 0.0 END)
                     / SUM(l_extendedprice * (1 - l_discount)) * 10000) / 10000
                   AS promo_revenue_pct
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
    """,
    "q_tpch_q15": """
        WITH revenue AS (
            SELECT l_suppkey,
                   FLOOR(SUM(l_extendedprice * (1 - l_discount)) * 100) / 100
                       AS total_revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1996-04-01'
            GROUP BY l_suppkey
        )
        SELECT s_suppkey, s_name, total_revenue
        FROM revenue
        JOIN supplier ON l_suppkey = s_suppkey
        WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
        ORDER BY s_suppkey
    """,
    "q_tpch_q17": """
        SELECT floor(sum(l_extendedprice) / 7.0 * 100) / 100 AS avg_yearly
        FROM lineitem
        JOIN part ON p_partkey = l_partkey
        WHERE p_brand = 'Brand#11'
          AND l_quantity < (
            SELECT 0.5 * avg(l2.l_quantity)
            FROM lineitem l2
            WHERE l2.l_partkey = p_partkey
          )
    """,
    "q_tpch_q18": """
        WITH big AS (
            SELECT l_orderkey, ROUND(SUM(l_quantity), 2) AS total_qty
            FROM lineitem
            GROUP BY l_orderkey
            HAVING ROUND(SUM(l_quantity), 2) > 150
        )
        SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, total_qty
        FROM big
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 20
    """,
    "q_tpch_q19": """
        SELECT ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        WHERE (p_brand = 'Brand#11' AND p_size BETWEEN 1 AND 15
               AND l_quantity BETWEEN 1 AND 11)
           OR (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 25
               AND l_quantity BETWEEN 10 AND 20)
           OR (p_brand = 'Brand#15' AND p_size BETWEEN 1 AND 35
               AND l_quantity BETWEEN 20 AND 30)
    """,
    "q_tpch_q21": """
        SELECT s_name, count(*) AS numwait
        FROM supplier
        JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
        JOIN orders ON o_orderkey = l1.l_orderkey
        WHERE o_orderstatus = 'F'
          AND l1.l_returnflag = 'R'
          AND EXISTS (
            SELECT * FROM lineitem l2
            WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
          )
          AND NOT EXISTS (
            SELECT * FROM lineitem l3
            WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
              AND l3.l_returnflag = 'R'
          )
        GROUP BY s_name
        ORDER BY numwait DESC, s_name
        LIMIT 20
    """,
    "q_tpch_q22": """
        SELECT cntrycode, count(*) AS numcust, round(sum(c_acctbal), 2) AS totacctbal
        FROM (
            SELECT c_nationkey % 10 AS cntrycode, c_acctbal, c_custkey
            FROM customer
            WHERE c_nationkey % 10 IN (1, 2, 3, 4, 5)
              AND c_acctbal > (
                SELECT avg(c_acctbal) FROM customer
                WHERE c_acctbal > 0.0 AND c_nationkey % 10 IN (1, 2, 3, 4, 5)
              )
        ) hot
        WHERE NOT EXISTS (
            SELECT * FROM orders
            WHERE o_custkey = hot.c_custkey
              AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
        )
        GROUP BY cntrycode
        ORDER BY cntrycode
    """,
    "q_dedup_apply": """
        SELECT doc_id, source, lang, n_chars
        FROM documents
        WHERE doc_id IN (
            SELECT MIN(doc_id) FROM documents GROUP BY md5(lower(trim(text)))
        )
    """,
    "q_train_split": """
        SELECT doc_id,
               CASE WHEN bucket < 8000 THEN 'train'
                    WHEN bucket < 9000 THEN 'val'
                    ELSE 'test' END AS split
        FROM (
            SELECT doc_id,
                   CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                       % 10000 AS bucket
            FROM documents
        )
    """,
    "q_stratified_sample": """
        SELECT doc_id, lang
        FROM (
            SELECT doc_id, lang,
                   CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                       % 10000 AS bucket
            FROM documents
        )
        WHERE (lang = 'en' AND bucket < 2500)
           OR (lang = 'de' AND bucket < 5000)
           OR (lang = 'zh' AND bucket < 10000)
    """,
    "q_scd1_merge": """
        WITH t AS (SELECT * FROM customer WHERE c_custkey % 3 <> 0),
             u AS (
                SELECT c_custkey, c_name, c_nationkey,
                       c_acctbal + 100 AS c_acctbal,
                       'UPDATED' AS c_mktsegment
                FROM customer WHERE c_custkey % 2 = 0
             )
        SELECT
            CASE WHEN u.c_custkey IS NOT NULL THEN u.c_custkey ELSE t.c_custkey END AS c_custkey,
            CASE WHEN u.c_custkey IS NOT NULL THEN u.c_name ELSE t.c_name END AS c_name,
            CASE WHEN u.c_custkey IS NOT NULL THEN u.c_nationkey ELSE t.c_nationkey END AS c_nationkey,
            CASE WHEN u.c_custkey IS NOT NULL THEN u.c_acctbal ELSE t.c_acctbal END AS c_acctbal,
            CASE WHEN u.c_custkey IS NOT NULL THEN u.c_mktsegment ELSE t.c_mktsegment END AS c_mktsegment
        FROM t FULL OUTER JOIN u ON t.c_custkey = u.c_custkey
    """,
    "q_cdc_changed_rows": """
        WITH o AS (SELECT * FROM customer WHERE c_custkey % 5 <> 0),
             n AS (
                SELECT c_custkey, c_name, c_nationkey,
                       CASE WHEN c_custkey % 4 = 0 THEN c_acctbal + 50
                            ELSE c_acctbal END AS c_acctbal,
                       c_mktsegment
                FROM customer WHERE c_custkey % 7 <> 0
             )
        SELECT c_custkey, change_type FROM (
            SELECT COALESCE(n.c_custkey, o.c_custkey) AS c_custkey,
                   CASE
                       WHEN o.c_custkey IS NOT NULL AND n.c_custkey IS NULL THEN 'removed'
                       WHEN o.c_custkey IS NULL AND n.c_custkey IS NOT NULL THEN 'added'
                       WHEN o.c_custkey IS NOT NULL AND n.c_custkey IS NOT NULL
                            AND (o.c_name      IS DISTINCT FROM n.c_name
                              OR o.c_nationkey IS DISTINCT FROM n.c_nationkey
                              OR o.c_acctbal   IS DISTINCT FROM n.c_acctbal
                              OR o.c_mktsegment IS DISTINCT FROM n.c_mktsegment)
                           THEN 'updated'
                   END AS change_type
            FROM o FULL OUTER JOIN n ON o.c_custkey = n.c_custkey
        )
        WHERE change_type IS NOT NULL
    """,
    "q_scd2_history": """
        WITH s AS (
            SELECT o_custkey, o_orderkey, o_orderstatus,
                   LAG(o_orderstatus) OVER w AS prev,
                   LAG(o_orderkey) OVER w AS prev_key
            FROM orders
            WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)
        ),
        starts AS (
            SELECT o_custkey, o_orderkey, o_orderstatus
            FROM s
            WHERE prev_key IS NULL OR o_orderstatus IS DISTINCT FROM prev
        )
        SELECT o_custkey, o_orderstatus,
               o_orderkey AS valid_from,
               LEAD(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS valid_to
        FROM starts
    """,
    "q_scd2_asof": """
        WITH s AS (
            SELECT o_custkey, o_orderkey, o_orderstatus,
                   LAG(o_orderstatus) OVER w AS prev,
                   LAG(o_orderkey) OVER w AS prev_key
            FROM orders
            WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)
        ), starts AS (
            SELECT o_custkey, o_orderkey, o_orderstatus
            FROM s
            WHERE prev_key IS NULL OR o_orderstatus IS DISTINCT FROM prev
        ), hist AS (
            SELECT o_custkey, o_orderstatus,
                   o_orderkey AS valid_from,
                   LEAD(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderkey)
                       AS valid_to
            FROM starts
        ), stamp AS (
            SELECT CAST(FLOOR(MAX(o_orderkey) / 2) AS BIGINT) AS as_of FROM orders
        )
        SELECT h.o_custkey, h.o_orderstatus, h.valid_from, t.as_of
        FROM hist h CROSS JOIN stamp t
        WHERE h.valid_from <= t.as_of
          AND (h.valid_to IS NULL OR h.valid_to > t.as_of)
        ORDER BY h.o_custkey
    """,
    "q_quality_profile": """
        WITH agg AS (
            SELECT COUNT(*) AS n,
                   COUNT(o_orderkey) AS k1, COUNT(DISTINCT o_orderkey) AS d1,
                   COUNT(o_custkey) AS k2, COUNT(DISTINCT o_custkey) AS d2,
                   COUNT(o_orderstatus) AS k3, COUNT(DISTINCT o_orderstatus) AS d3,
                   COUNT(o_totalprice) AS k4, COUNT(DISTINCT o_totalprice) AS d4,
                   COUNT(o_orderdate) AS k5, COUNT(DISTINCT o_orderdate) AS d5,
                   COUNT(o_orderpriority) AS k6, COUNT(DISTINCT o_orderpriority) AS d6
            FROM orders
        )
        SELECT col_name,
               CAST(n_nulls AS BIGINT) AS n_nulls,
               n_nulls / n AS null_ratio,
               CAST(n_distinct AS BIGINT) AS n_distinct
        FROM (
            SELECT 'o_orderkey' AS col_name, n - k1 AS n_nulls, d1 AS n_distinct, n FROM agg
            UNION ALL SELECT 'o_custkey', n - k2, d2, n FROM agg
            UNION ALL SELECT 'o_orderstatus', n - k3, d3, n FROM agg
            UNION ALL SELECT 'o_totalprice', n - k4, d4, n FROM agg
            UNION ALL SELECT 'o_orderdate', n - k5, d5, n FROM agg
            UNION ALL SELECT 'o_orderpriority', n - k6, d6, n FROM agg
        )
    """,
    "q_minhash_portable": """
        WITH toks AS (
            SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
            FROM documents
        ), sh AS (
            SELECT DISTINCT doc_id,
                   unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])) AS s
            FROM toks WHERE len(t) >= 2
        ), hashes AS (
            SELECT doc_id, i,
                   MIN(CAST(('0x' || substring(md5(CAST(i AS VARCHAR) || ':' || s), 1, 15)) AS BIGINT)) AS mh
            FROM sh CROSS JOIN (SELECT unnest(range(12)) AS i)
            GROUP BY doc_id, i
        ), bands AS (
            SELECT doc_id, i // 3 AS band,
                   md5(string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i)) AS band_sig
            FROM hashes GROUP BY doc_id, i // 3
        )
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a
        JOIN bands b ON a.band = b.band AND a.band_sig = b.band_sig
                     AND a.doc_id < b.doc_id
    """,
    "q_dedup_clusters_pruned": """
        WITH RECURSIVE toks AS (
            SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
            FROM documents
        ), sh0 AS (
            SELECT DISTINCT doc_id,
                   unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])) AS s
            FROM toks
            WHERE len(t) >= 2
        ), dfreq AS (
            SELECT s, COUNT(*) AS df FROM sh0 GROUP BY s
        ), med AS (
            -- exact discrete median of the df distribution: value at rank
            -- GREATEST(1, ceil(n/2)) — the engine's calibrated_df_cutoff
            -- rank rule verbatim (ties irrelevant: value AT a rank)
            SELECT df AS m
            FROM (SELECT df, ROW_NUMBER() OVER (ORDER BY df) AS rk FROM dfreq),
                 (SELECT COUNT(*) AS n FROM dfreq)
            WHERE rk = GREATEST(1, (5000 * n + 9999) // 10000)
        ), cut AS (
            SELECT GREATEST(8, (9000 * m) // 10000) AS c FROM med
        ), hot AS (
            SELECT s FROM dfreq, cut WHERE df > c
        ), sh AS (
            SELECT * FROM sh0 WHERE s NOT IN (SELECT s FROM hot)
        ), sizes AS (
            SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
        ), inter AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
            FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        ), pairs AS (
            SELECT id_a, id_b
            FROM inter
            JOIN sizes sa ON sa.doc_id = id_a
            JOIN sizes sb ON sb.doc_id = id_b
            WHERE FLOOR(n_inter / (sa.n_sh + sb.n_sh - n_inter) * 10000) / 10000 >= 0.5
        ), edges AS (
            SELECT id_a AS src, id_b AS dst FROM pairs
            UNION ALL
            SELECT id_b AS src, id_a AS dst FROM pairs
        ), reach AS (
            SELECT doc_id AS node, doc_id AS lab FROM documents
            UNION
            SELECT e.dst AS node, r.lab
            FROM reach r JOIN edges e ON e.src = r.node
        )
        SELECT node AS doc_id, MIN(lab) AS cluster_id
        FROM reach
        GROUP BY node
    """,
    "q_cosine_topk": """
        WITH p AS (SELECT embedding FROM embeddings WHERE vec_id = 0)
        SELECT e.vec_id,
               ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                            CAST(p.embedding AS DOUBLE[])), 6) AS cosine_sim
        FROM embeddings e, p
        ORDER BY cosine_sim DESC, e.vec_id
        LIMIT 10
    """,
    "q_token_budget": """
        WITH toks AS (
            SELECT doc_id, lang, n_chars,
                   len(list_filter(string_split(text, ' '), x -> x <> '')) AS nt
            FROM documents
        ), c AS (
            SELECT doc_id, lang, CAST(nt AS INTEGER) AS n_tokens,
                   CAST(SUM(nt) OVER (PARTITION BY lang
                                      ORDER BY n_chars DESC, doc_id ASC
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS cum_tokens
            FROM toks
        )
        SELECT doc_id, lang, n_tokens, cum_tokens
        FROM c WHERE cum_tokens <= 2000
    """,
    "q_chunk_spans": """
        WITH toks AS (
            SELECT doc_id, lang,
                   len(list_filter(string_split(text, ' '), x -> x <> '')) AS nt
            FROM documents
        ), spans AS (
            SELECT doc_id, lang, CAST(nt AS INTEGER) AS n_tokens,
                   CAST(SUM(nt) OVER (PARTITION BY lang ORDER BY doc_id ASC
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        - nt AS BIGINT) AS start_offset
            FROM toks WHERE nt >= 1
        )
        SELECT doc_id, lang, n_tokens, start_offset,
               CAST(start_offset // 512 AS BIGINT) AS first_chunk,
               CAST((start_offset + n_tokens - 1) // 512 AS BIGINT) AS last_chunk,
               CAST((start_offset + n_tokens - 1) // 512
                    - start_offset // 512 + 1 AS BIGINT) AS n_chunks
        FROM spans
    """,
    "q_length_histogram": """
        WITH toks AS (
            SELECT len(list_filter(string_split(text, ' '), x -> x <> '')) AS nt
            FROM documents
        ), b AS (
            SELECT CAST(nt AS INTEGER) AS n_tokens,
                   CAST(length(bin(CAST(nt AS INTEGER))) AS INTEGER) AS bit_bucket
            FROM toks WHERE nt >= 1
        )
        SELECT bit_bucket,
               COUNT(*) AS n_docs,
               MIN(n_tokens) AS min_tokens,
               MAX(n_tokens) AS max_tokens,
               CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
        FROM b GROUP BY bit_bucket
    """,
    "q_late_data": """
        WITH wm AS (
            SELECT user_id, MAX(ts) AS mx FROM events GROUP BY user_id
        )
        SELECT e.event_id, e.user_id, CAST(e.ts AS TIMESTAMP) AS ts, e.event_type
        FROM events e JOIN wm USING (user_id)
        WHERE e.ts >= wm.mx - INTERVAL 2 HOUR
    """,
    "q_multimodal_features": """
        SELECT doc_id AS asset_id,
               CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS modality,
               CAST(strlen(text) AS BIGINT) AS n_bytes,
               CAST(CAST(('0x' || substring(sha256(text), 1, 8)) AS UBIGINT) // 2
                    AS INTEGER) AS sha
        FROM documents
    """,
    "q_dedup_pipeline": """
        WITH RECURSIVE toks AS (
            SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
            FROM documents
        ), sh AS (
            SELECT DISTINCT doc_id,
                   unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])) AS s
            FROM toks WHERE len(t) >= 2
        ), hashes AS (
            SELECT doc_id, i,
                   MIN(CAST(('0x' || substring(md5(CAST(i AS VARCHAR) || ':' || s), 1, 15)) AS BIGINT)) AS mh
            FROM sh CROSS JOIN (SELECT unnest(range(12)) AS i)
            GROUP BY doc_id, i
        ), bands AS (
            SELECT doc_id, i // 3 AS band,
                   md5(string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i)) AS band_sig
            FROM hashes GROUP BY doc_id, i // 3
        ), cand AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM bands a
            JOIN bands b ON a.band = b.band AND a.band_sig = b.band_sig
                         AND a.doc_id < b.doc_id
        ), sizes AS (
            SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
        ), inter AS (
            SELECT c.id_a, c.id_b, COUNT(*) AS n_inter
            FROM cand c
            JOIN sh a ON a.doc_id = c.id_a
            JOIN sh b ON b.doc_id = c.id_b AND b.s = a.s
            GROUP BY c.id_a, c.id_b
        ), pairs AS (
            SELECT id_a, id_b
            FROM inter
            JOIN sizes sa ON sa.doc_id = id_a
            JOIN sizes sb ON sb.doc_id = id_b
            WHERE FLOOR(n_inter / (sa.n_sh + sb.n_sh - n_inter) * 10000) / 10000 >= 0.5
        ), edges AS (
            SELECT id_a AS src, id_b AS dst FROM pairs
            UNION ALL
            SELECT id_b AS src, id_a AS dst FROM pairs
        ), reach AS (
            SELECT doc_id AS node, doc_id AS lab FROM documents
            UNION
            SELECT e.dst AS node, r.lab
            FROM reach r JOIN edges e ON e.src = r.node
        ), clusters AS (
            SELECT node AS doc_id, MIN(lab) AS cluster_id
            FROM reach GROUP BY node
        )
        SELECT d.doc_id, d.lang, d.n_chars
        FROM documents d JOIN clusters c ON d.doc_id = c.doc_id
        WHERE c.doc_id = c.cluster_id
    """,
    # BM25 (Lucene idf). The arithmetic mirrors the Spark expression
    # SHAPE (tf + 1.2*(0.25 + 0.75*dl/avgdl); tf*(1.2+1) numerator) so
    # both engines run the same IEEE op sequence; ROUND(,4) absorbs
    # summation-order drift.
    "q_bm25_search": """
        WITH toks AS (
            SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
            FROM documents
        ), lengths AS (
            SELECT doc_id, CAST(len(t) AS DOUBLE) AS dl FROM toks
        ), stats AS (
            SELECT CAST(COUNT(*) AS DOUBLE) AS n, AVG(dl) AS avgdl FROM lengths
        ), tf AS (
            SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf
            FROM (
                SELECT doc_id,
                       unnest(list_filter(t, x -> x IN ('spark', 'vector', 'stream'))) AS term
                FROM toks
            )
            GROUP BY doc_id, term
        ), dfreq AS (
            SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY term
        )
        SELECT tf.doc_id,
               ROUND(SUM(
                   ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5))
                   * (tf.tf * (1.2 + 1))
                   / (tf.tf + 1.2 * ((1 - 0.75) + 0.75 * l.dl / s.avgdl))
               ), 4) AS score
        FROM tf
        JOIN dfreq d USING (term)
        JOIN lengths l ON l.doc_id = tf.doc_id
        CROSS JOIN stats s
        GROUP BY tf.doc_id
    """,
    # Winnowing fingerprints: bigram shingles -> portable 60-bit md5 hash
    # -> 4-hash sliding window minima -> distinct. hs[i:i+3] is DuckDB's
    # INCLUSIVE 4-element slice, matching Spark slice(h, i, 4).
    "q_winnow_fingerprints": """
        WITH toks AS (
            SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
            FROM documents
        ), sh AS (
            SELECT doc_id,
                   CASE WHEN len(t) >= 2
                        THEN list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])
                        ELSE [array_to_string(t, ' ')] END AS s
            FROM toks WHERE len(t) >= 1
        ), h AS (
            SELECT doc_id,
                   list_transform(s, x -> CAST(('0x' || substring(md5(x), 1, 15)) AS BIGINT)) AS hs
            FROM sh
        ), fp AS (
            SELECT doc_id,
                   list_distinct(list_transform(
                       range(1, greatest(len(hs) - 3, 1) + 1),
                       i -> list_min(hs[i:i + 3])
                   )) AS fps
            FROM h
        )
        SELECT doc_id,
               CAST(len(fps) AS INTEGER) AS n_fingerprints,
               md5(array_to_string(list_sort(fps), ',')) AS fp_digest
        FROM fp
    """,
    "q_tpch_q2": """
        WITH supply AS (
            SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
                   MIN(l_extendedprice / l_quantity) AS ps_supplycost
            FROM lineitem GROUP BY l_partkey, l_suppkey
        )
        SELECT s_acctbal, s_name, n_name, p_partkey, p_name,
               FLOOR(ps_supplycost * 100) / 100 AS supplycost
        FROM part, supply, supplier, nation, region
        WHERE p_partkey = ps_partkey AND s_suppkey = ps_suppkey
          AND p_size = 15 AND p_type = 'SMALL'
          AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
          AND r_name = 'EUROPE'
          AND ps_supplycost = (
              SELECT MIN(s2.ps_supplycost)
              FROM supply s2, supplier, nation, region
              WHERE s2.ps_partkey = p_partkey AND s_suppkey = s2.ps_suppkey
                AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
                AND r_name = 'EUROPE'
          )
        ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
        LIMIT 100
    """,
    # per-line integer cents before the SUM (exact, order-independent);
    # a float SUM drifts by summation order and the 2-decimal floor then
    # disagrees at .xx boundaries
    "q_tpch_q9": """
        SELECT n_name AS nation,
               CAST(year(o_orderdate) AS INTEGER) AS o_year,
               CAST(SUM(CAST(FLOOR((l_extendedprice * (1 - l_discount)
                                    - 0.8 * p_retailprice * l_quantity) * 100)
                             AS BIGINT)) AS BIGINT) / 100 AS sum_profit
        FROM lineitem
        JOIN part ON p_partkey = l_partkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN nation ON n_nationkey = s_nationkey
        JOIN orders ON o_orderkey = l_orderkey
        WHERE p_name LIKE '%widget%'
        GROUP BY n_name, year(o_orderdate)
    """,
    "q_tpch_q11": """
        WITH vals AS (
            SELECT l_partkey,
                   CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100)
                                 AS BIGINT)) AS BIGINT) AS vc
            FROM lineitem
            JOIN supplier ON s_suppkey = l_suppkey
            JOIN nation ON n_nationkey = s_nationkey
            WHERE n_name = 'NATION_7'
            GROUP BY l_partkey
        ), total AS (SELECT CAST(SUM(vc) AS BIGINT) AS tc FROM vals)
        SELECT l_partkey, vc / 100 AS value
        FROM vals, total
        WHERE vc * 1000 > tc
    """,
    "q_tpch_q16": """
        WITH ps AS (
            SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
            WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        )
        SELECT p_brand, p_type, p_size,
               CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        FROM ps JOIN part ON p_partkey = l_partkey
        WHERE p_brand <> 'Brand#13' AND p_type <> 'PROMO'
          AND p_size IN (1, 14, 23, 45)
        GROUP BY p_brand, p_type, p_size
    """,
    "q_tpch_q20": """
        WITH shipped AS (
            SELECT l_partkey, l_suppkey, SUM(l_quantity) AS qty
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
            GROUP BY l_partkey, l_suppkey
        ), part_total AS (
            SELECT l_partkey, SUM(qty) AS total_qty FROM shipped GROUP BY l_partkey
        )
        SELECT s_name, s_acctbal
        FROM supplier JOIN nation ON s_nationkey = n_nationkey
        WHERE n_name = 'NATION_3'
          AND s_suppkey IN (
              SELECT sh.l_suppkey
              FROM shipped sh
              JOIN part_total pt ON sh.l_partkey = pt.l_partkey
              JOIN part p ON p.p_partkey = sh.l_partkey
              WHERE p.p_name LIKE 'small%'
                AND sh.qty > 0.3 * pt.total_qty
          )
    """,
    # Element-wise mean embedding per label; embedding[i+1] is DuckDB's
    # 1-based index of Spark's 0-based getItem(i). ROUND(,5) absorbs
    # float-summation order drift.
    "q_embed_centroids": """
        SELECT label,
               CAST(i AS INTEGER) AS pos,
               ROUND(AVG(CAST(embedding[i + 1] AS DOUBLE)), 5) AS centroid
        FROM embeddings, (SELECT unnest(range(64)) AS i)
        GROUP BY label, i
    """,
    # Train/eval trigram contamination: distinct trigram postings per side,
    # pair counts with >= 2 shared, overlap fraction floor-truncated (the
    # same FLOOR(x*10000)/10000 the Spark side applies).
    "q_contamination": """
        WITH toks AS (
            SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
            FROM documents
        ), ng AS (
            SELECT DISTINCT doc_id,
                   unnest(list_transform(range(1, len(t) - 1),
                          i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS ng
            FROM toks WHERE len(t) >= 3
        ), ev AS (
            SELECT doc_id AS eval_id, ng FROM ng WHERE doc_id % 25 = 0
        ), tr AS (
            SELECT doc_id AS train_id, ng FROM ng WHERE doc_id % 25 <> 0
        ), sizes AS (
            SELECT eval_id, COUNT(*) AS en FROM ev GROUP BY eval_id
        ), pairs AS (
            SELECT train_id, eval_id, CAST(COUNT(*) AS BIGINT) AS shared_ngrams
            FROM tr JOIN ev USING (ng)
            GROUP BY train_id, eval_id
            HAVING COUNT(*) >= 2
        )
        SELECT p.train_id, p.eval_id, p.shared_ngrams,
               FLOOR(p.shared_ngrams / s.en * 10000) / 10000 AS overlap_frac
        FROM pairs p JOIN sizes s USING (eval_id)
    """,
    "q_decontaminate": """
        WITH toks AS (
            SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
            FROM documents
        ), ng AS (
            SELECT DISTINCT doc_id,
                   unnest(list_transform(range(1, len(t) - 1),
                          i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS ng
            FROM toks WHERE len(t) >= 3
        ), contaminated AS (
            SELECT DISTINCT t.doc_id
            FROM ng t JOIN ng e ON t.ng = e.ng
                       AND t.doc_id % 25 <> 0 AND e.doc_id % 25 = 0
            GROUP BY t.doc_id, e.doc_id
            HAVING COUNT(*) >= 2
        )
        SELECT doc_id, lang, n_chars
        FROM documents
        WHERE doc_id % 25 <> 0
          AND doc_id NOT IN (SELECT doc_id FROM contaminated)
    """,
    # Bigram repetition counters; ratios floor-truncated. The most-frequent
    # bigram itself is never projected (frequency ties would be
    # non-deterministic).
    "q_repetition_stats": """
        WITH toks AS (
            SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
            FROM documents
        ), ng AS (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])) AS ng
            FROM toks WHERE len(t) >= 2
        ), per AS (
            SELECT doc_id, ng, COUNT(*) AS c FROM ng GROUP BY doc_id, ng
        ), agg AS (
            SELECT doc_id,
                   CAST(SUM(c) AS BIGINT) AS n_ngrams,
                   CAST(COUNT(*) AS BIGINT) AS distinct_ngrams,
                   CAST(MAX(c) AS BIGINT) AS top_ngram_count
            FROM per GROUP BY doc_id
        )
        SELECT doc_id, n_ngrams, distinct_ngrams, top_ngram_count,
               FLOOR(top_ngram_count / n_ngrams * 10000) / 10000 AS top_ngram_frac,
               FLOOR((1 - distinct_ngrams / n_ngrams) * 10000) / 10000 AS dup_ngram_frac
        FROM agg
    """,
    # PII scrub: same seeded text, same RE2/Java-portable patterns, emails
    # redacted before phones on both sides.
    "q_pii_scrub": """
        WITH seeded AS (
            SELECT doc_id,
                   text
                   || CASE WHEN doc_id % 3 = 0
                           THEN ' mail user' || CAST(doc_id AS VARCHAR) || '@example.com'
                           ELSE '' END
                   || CASE WHEN doc_id % 4 = 0
                           THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                           ELSE '' END AS s
            FROM documents
        ), redact AS (
            SELECT doc_id,
                   CAST(len(regexp_extract_all(s,
                        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS INTEGER) AS n_emails,
                   regexp_replace(s, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                                  '[EMAIL]', 'g') AS ne
            FROM seeded
        )
        SELECT doc_id, n_emails,
               CAST(len(regexp_extract_all(ne, '\\b\\d{3}-\\d{4}\\b')) AS INTEGER) AS n_phones,
               md5(regexp_replace(ne, '\\b\\d{3}-\\d{4}\\b', '[PHONE]', 'g')) AS clean_md5
        FROM redact
    """,
    "q_stream_dedup_batch": """
        SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts
        FROM (
            SELECT user_id, event_type, event_id, ts,
                   ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                      ORDER BY ts, event_id) AS rn
            FROM events
        )
        WHERE rn = 1
    """,
    # MAD outliers: med/mad are interpolated midpoints of integer token
    # counts — exact .0/.5 doubles, identical across engines (quantile_cont
    # ≡ Spark percentile, parity proven by q_percentiles).
    "q_robust_outliers": """
        WITH t AS (
            SELECT doc_id, lang,
                   len(list_filter(string_split(text, ' '), x -> x <> '')) AS nt
            FROM documents
        ), med AS (
            SELECT lang, quantile_cont(nt, 0.5) AS med FROM t GROUP BY lang
        ), dev AS (
            SELECT t.doc_id, t.lang, t.nt, m.med, abs(t.nt - m.med) AS adev
            FROM t JOIN med m USING (lang)
        ), mad AS (
            SELECT lang, quantile_cont(adev, 0.5) AS mad FROM dev GROUP BY lang
        )
        SELECT d.doc_id, d.lang, CAST(d.nt AS INTEGER) AS n_tokens, d.med, ma.mad
        FROM dev d JOIN mad ma USING (lang)
        WHERE d.adev > 1.5 * ma.mad
    """,
    # Same op sequence as the Spark plan: ln(freq/total) per occurrence,
    # then AVG; ROUND(,4) absorbs summation-order drift (bm25 precedent).
    "q_unigram_logprob": """
        WITH toks AS (
            SELECT doc_id,
                   unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
            FROM documents
        ), freqs AS (
            SELECT tok, CAST(COUNT(*) AS DOUBLE) AS c FROM toks GROUP BY tok
        ), total AS (
            SELECT CAST(COUNT(*) AS DOUBLE) AS t FROM toks
        )
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_tokens,
               ROUND(AVG(ln(c / t)), 4) AS avg_logprob
        FROM toks JOIN freqs USING (tok) CROSS JOIN total
        GROUP BY doc_id
    """,
    # Full curation funnel: quality gate -> decontamination -> exact dedup
    # -> per-language token budget, replayed as one CTE chain. Same
    # integer/divison ops as the Spark plan at every stage.

    "q_top_ngrams": """
        WITH toks AS (
            SELECT list_filter(string_split(text, ' '), x -> x <> '') AS t
            FROM documents
        ), ng AS (
            SELECT unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])) AS ngram
            FROM toks WHERE len(t) >= 2
        )
        SELECT ngram, CAST(COUNT(*) AS BIGINT) AS n_occurrences
        FROM ng GROUP BY ngram
        ORDER BY n_occurrences DESC, ngram
        LIMIT 50
    """,
    # Same engine-exact floor(x*127/mx + 0.5) quantizer; every checked
    # column is an exact integer, a truncated double, or an md5 of the
    # integer code array.
    "q_embed_quantize": """
        WITH v AS (
            SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
            FROM embeddings
        ), m AS (
            SELECT vec_id, e, list_max(list_transform(e, x -> abs(x))) AS mx FROM v
        ), q AS (
            SELECT vec_id,
                   CASE WHEN mx = 0 THEN list_transform(e, x -> 0)
                        ELSE list_transform(e, x -> CAST(floor(x / mx * 127 + 0.5) AS INTEGER))
                   END AS q,
                   CASE WHEN mx = 0 THEN 0.0 ELSE mx / 127 END AS scale
            FROM m
        )
        SELECT vec_id,
               CAST(len(q) AS INTEGER) AS n_dims,
               CAST(list_sum(q) AS BIGINT) AS sum_codes,
               CAST(list_min(q) AS INTEGER) AS min_code,
               CAST(list_max(q) AS INTEGER) AS max_code,
               FLOOR(scale * 1000000) / 1000000 AS scale_trunc,
               md5(array_to_string(q, ',')) AS codes_md5
        FROM q
    """,
    # The bucketed join is a storage-layout property; the answer is a plain
    # equi-join + aggregate.
    "q_bucketed_join": """
        SELECT c.c_mktsegment,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(FLOOR(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) / 100.0
                   AS revenue
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY c.c_mktsegment
    """,
}


def _srp_candidate_ctes(dim: int = 64, n_planes: int = 16, bands: int = 4) -> str:
    """Shared CTE prefix (v -> sig -> chunks -> cand) replaying the Spark
    SRP-LSH lattice in DuckDB, built from the SAME deterministic
    hyperplane table the Spark expressions use (functions/similarity.py
    `_deterministic_hyperplanes` — pure hash-of-index Python, no Spark):
    the plane values are inlined as DOUBLE[] literals, so shortest-repr
    float literals round-trip to identical doubles and both engines fold
    the dot product in double precision."""
    from nyc_bikeshare_datawarehouse_spark.functions.similarity import (
        _deterministic_hyperplanes,
    )

    planes = _deterministic_hyperplanes(dim, n_planes)
    sig_terms = "\n                 + ".join(
        "(CASE WHEN list_dot_product(e, [{vals}]) > 0 THEN {mask} ELSE 0 END)".format(
            vals=", ".join(repr(x) for x in planes[p]), mask=1 << p
        )
        for p in range(n_planes)
    )
    width = n_planes // bands
    return f"""v AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
        ), sig AS (
            SELECT vec_id,
                   {sig_terms} AS sig
            FROM v
        ), chunks AS (
            SELECT vec_id, band, (sig >> (band * {width})) & {(1 << width) - 1} AS chunk
            FROM sig CROSS JOIN (SELECT unnest(range({bands})) AS band)
        ), cand AS (
            SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
            FROM chunks a
            JOIN chunks b ON a.band = b.band AND a.chunk = b.chunk
                          AND a.vec_id < b.vec_id
        )"""


def _embed_near_dup_sql(dim: int = 64, n_planes: int = 16, bands: int = 4,
                        min_cosine: float = 0.35) -> str:
    """Oracle for q_embed_near_dup: SRP-LSH candidates + exact cosine
    verify — the first two stages of the pipeline lattice, output as the
    verified pair list (id_a, id_b, cosine_sim)."""
    return f"""
        WITH {_srp_candidate_ctes(dim, n_planes, bands)}
        SELECT c.id_a, c.id_b,
               ROUND(list_cosine_similarity(va.e, vb.e), 6) AS cosine_sim
        FROM cand c
        JOIN v va ON va.vec_id = c.id_a
        JOIN v vb ON vb.vec_id = c.id_b
        WHERE ROUND(list_cosine_similarity(va.e, vb.e), 6) >= {min_cosine}
    """


def _embed_dedup_pipeline_sql(dim: int = 64, n_planes: int = 16, bands: int = 4,
                              min_cosine: float = 0.40) -> str:
    """Oracle for q_embed_dedup_pipeline: the full lattice — SRP
    candidates -> cosine verify -> recursive-CTE connected components ->
    min-id apply (see _srp_candidate_ctes for engine-parity notes)."""
    return f"""
        WITH RECURSIVE {_srp_candidate_ctes(dim, n_planes, bands)}, pairs AS (
            SELECT id_a, id_b
            FROM cand c
            JOIN v va ON va.vec_id = c.id_a
            JOIN v vb ON vb.vec_id = c.id_b
            WHERE ROUND(list_cosine_similarity(va.e, vb.e), 6) >= {min_cosine}
        ), edges AS (
            SELECT id_a AS src, id_b AS dst FROM pairs
            UNION ALL
            SELECT id_b AS src, id_a AS dst FROM pairs
        ), reach AS (
            SELECT vec_id AS node, vec_id AS lab FROM embeddings
            UNION
            SELECT e.dst AS node, r.lab
            FROM reach r JOIN edges e ON e.src = r.node
        ), clusters AS (
            SELECT node AS vec_id, MIN(lab) AS cluster_id
            FROM reach GROUP BY node
        )
        SELECT emb.vec_id, emb.label
        FROM embeddings emb JOIN clusters c ON emb.vec_id = c.vec_id
        WHERE c.vec_id = c.cluster_id
        ORDER BY emb.vec_id
    """


ORACLES["q_embed_dedup_pipeline"] = _embed_dedup_pipeline_sql()
ORACLES["q_embed_near_dup"] = _embed_near_dup_sql()


def _embed_near_dup_scaled_sql(dim: int = 64, bands: int = 4,
                               base_planes: int = 16, base_rows: int = 5000,
                               min_cosine: float = 0.35) -> str:
    """Oracle for q_embed_near_dup_scaled — the DYNAMIC-plane-count SRP
    lattice. Unlike _srp_candidate_ctes (which inlines one plane literal
    per SQL expression, freezing the count), this oracle GENERATES the
    hyperplanes in SQL from the same xorshift integer mix as
    similarity._deterministic_hyperplanes, over a plane count derived
    from COUNT(*) with the same integer bit_length rule as
    similarity.srp_planes_for (smallest k with base·2^k ≥ n, via
    length(bin(ceil_div(n, base) − 1)) ≡ Python int.bit_length).

    Cross-engine float parity, term by term:
    - plane values: (h/4294967295.0)·2.0−1.0 — BIGINT/DOUBLE division is
      correctly rounded IEEE in both engines, ·2.0 is exact, −1.0 is one
      correctly-rounded op; identical doubles without literal inlining.
    - the integer mix (&, xor, >>, ·1274126177) never exceeds 2^63
      (max h·multiplier ≈ 5.5e18), so BIGINT arithmetic is exact.
    - signature: SUM of distinct power-of-two BIGINTs ≡ Spark's
      bitwiseOR fold (bits are disjoint); cast back from HUGEINT.
    - dot/cosine/ROUND(,6): same list_dot_product / list_cosine_similarity
      forms the gate already proves against the Spark fold
      (_srp_candidate_ctes notes).
    Band width is np//bands on BOTH sides, so if the 62-plane cap makes
    np indivisible by bands the same top bits are ignored in banding."""
    mask32 = 0xFFFFFFFF
    return f"""
        WITH params AS (
            SELECT CASE WHEN n <= {base_rows} THEN {base_planes}
                        ELSE LEAST(62, {base_planes} + {bands} *
                             length(bin(((n + {base_rows - 1}) // {base_rows}) - 1)))
                   END AS np
            FROM (SELECT COUNT(*) AS n FROM embeddings)
        ), pv AS (
            SELECT p, d,
                   ((xor(h3, h3 >> 16)) / 4294967295.0) * 2.0 - 1.0 AS val
            FROM (
                SELECT p, d, ((xor(h1, h1 >> 13) * 1274126177) & {mask32}) AS h3
                FROM (
                    SELECT pp.p, dd.d,
                           ((pp.p * 2654435761 + dd.d * 40503 + 12345) & {mask32}) AS h1
                    FROM (SELECT unnest(range((SELECT np FROM params))) AS p) pp,
                         (SELECT unnest(range({dim})) AS d) dd
                )
            )
        ), planes AS (
            SELECT p, list(val ORDER BY d) AS plane FROM pv GROUP BY p
        ), v AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
        ), sig AS (
            SELECT vec_id,
                   CAST(SUM(CASE WHEN list_dot_product(e, plane) > 0
                                 THEN (CAST(1 AS BIGINT) << p)
                                 ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS sig
            FROM v CROSS JOIN planes
            GROUP BY vec_id
        ), chunks AS (
            SELECT vec_id, band,
                   (sig >> CAST(band * ((SELECT np FROM params) // {bands}) AS INTEGER))
                   & ((CAST(1 AS BIGINT) << ((SELECT np FROM params) // {bands})) - 1)
                       AS chunk
            FROM sig CROSS JOIN (SELECT unnest(range({bands})) AS band)
        ), cand AS (
            SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
            FROM chunks a
            JOIN chunks b ON a.band = b.band AND a.chunk = b.chunk
                          AND a.vec_id < b.vec_id
        )
        SELECT c.id_a, c.id_b,
               ROUND(list_cosine_similarity(va.e, vb.e), 6) AS cosine_sim
        FROM cand c
        JOIN v va ON va.vec_id = c.id_a
        JOIN v vb ON vb.vec_id = c.id_b
        WHERE ROUND(list_cosine_similarity(va.e, vb.e), 6) >= {min_cosine}
    """


ORACLES["q_embed_near_dup_scaled"] = _embed_near_dup_scaled_sql()


# URL/domain-keyed curation (r14): same synthesized URLs, then parse +
# within-domain content dedup + md5-uniform quota as plain SQL windows —
# re-proving the salted two-phase skew_topk ≡ sequential ROW_NUMBER on a
# third ordering (q_group_quota, q_sequence_pack are the others).
ORACLES["q_domain_quota"] = """
    WITH u AS (
        SELECT doc_id, text,
               'https://' || ['www.', 'cdn.', ''][CAST(doc_id % 3 + 1 AS INTEGER)]
                          || source || '.'
                          || ['com', 'org'][CAST(doc_id % 2 + 1 AS INTEGER)]
                          || '/doc/' || CAST(doc_id AS VARCHAR) AS url
        FROM documents
    ), parsed AS (
        SELECT doc_id,
               regexp_extract(regexp_extract(url, '^https?://([^/]+)', 1),
                              '([^.]+\\.[^.]+)$', 1) AS domain,
               md5(lower(trim(text))) AS th
        FROM u
    ), kept AS (
        SELECT domain, doc_id
        FROM (
            SELECT domain, doc_id,
                   ROW_NUMBER() OVER (PARTITION BY domain, th ORDER BY doc_id) AS rn
            FROM parsed
        )
        WHERE rn = 1
    )
    SELECT domain, doc_id, CAST(rank AS INTEGER) AS rank
    FROM (
        SELECT domain, doc_id,
               ROW_NUMBER() OVER (
                   PARTITION BY domain
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ) AS rank
        FROM kept
    )
    WHERE rank <= 8
    ORDER BY domain, rank
"""


def _bpe_train_ctes(n_merges: int = 6, min_count: int = 2) -> str:
    """Shared CTE prefix replaying bpe.bpe_train: words → v0 (chars +
    EOW) → n_merges chained (pc_k pair counts, ch_k argmax, v_k
    conditional list-fold merge) stages. See _tokenizer_apply_sql for
    the engine-parity notes (seeded list_reduce, early-stop CASE
    guard). Ends with v{n_merges} = (word, freq, syms) — which is ALSO
    every word's ENCODING under the learned merges."""
    stages = []
    for k in range(1, n_merges + 1):
        prev = f"v{k - 1}"
        stages.append(f"""pc{k} AS (
            SELECT p[1] AS a, p[2] AS b, CAST(SUM(freq) AS BIGINT) AS cnt
            FROM (
                SELECT freq,
                       unnest(list_transform(range(1, len(syms)),
                                             i -> [syms[i], syms[i + 1]])) AS p
                FROM {prev} WHERE len(syms) >= 2
            )
            GROUP BY 1, 2
        ), ch{k} AS (
            SELECT a, b, cnt FROM pc{k} ORDER BY cnt DESC, a, b LIMIT 1
        ), v{k} AS (
            SELECT v.word, v.freq,
                   CASE WHEN c.cnt IS NOT NULL AND c.cnt >= {min_count}
                             AND len(v.syms) >= 2
                        THEN list_reduce(
                                 list_transform(v.syms, s -> [s]),
                                 (acc, x) -> CASE
                                     WHEN acc[len(acc)] = c.a AND x[1] = c.b
                                     THEN list_append(
                                              list_slice(acc, 1, len(acc) - 1),
                                              c.a || c.b)
                                     ELSE list_append(acc, x[1]) END)
                        ELSE v.syms END AS syms
            FROM {prev} v LEFT JOIN ch{k} c ON TRUE
        )""")
    chain = ", ".join(stages)
    return f"""words AS (
            SELECT token AS word, CAST(COUNT(*) AS BIGINT) AS freq
            FROM (
                SELECT unnest(list_filter(string_split(text, ' '), x -> x <> ''))
                           AS token
                FROM documents
            )
            GROUP BY 1
        ), v0 AS (
            SELECT word, freq,
                   list_append(
                       list_transform(range(1, length(word) + 1),
                                      i -> substring(word, i, 1)),
                       '</w>') AS syms
            FROM words
        ), {chain}"""


def _tokenizer_apply_sql(n_merges: int = 6, min_count: int = 2,
                         seq_len: int = 512, n_shards: int = 8) -> str:
    """Oracle for q_tokenizer_apply — TRAIN, ENCODE, PACK replayed end
    to end. Training is `n_merges` CHAINED CTE stages over the vocab
    (pc_k pair counts → ch_k argmax under the (cnt DESC, a, b) total
    order → v_k conditional merge). The merge fold is a seeded
    list_reduce over single-element lists: the seed is the first
    element [s1], which equals Spark's empty-seeded fold after one
    step, and the accumulator is a LIST (the positional-accumulator
    rule — no struct shadowing). The early-stop rule (best cnt <
    min_count, or no pairs) is the CASE guard on ch_k — once it stops
    firing, pair counts are unchanged so every later stage is a no-op,
    exactly bpe_train's break. ENCODE needs no extra folds: the
    training fold applied to the vocab IS the encoding of every word
    (the same property the Spark side exploits by joining the trained
    symbol frame), so docs join v_n by word and regroup ordered. PACK
    is the q_sequence_pack recursive fold under the BPE token counts.
    Empty-text docs would be absent here but present (md5('')) on the
    Spark side — the corpus has none (10-99 tokens/doc)."""
    return f"""
        WITH RECURSIVE {_bpe_train_ctes(n_merges, min_count)}, toks AS (
            SELECT doc_id, i AS pos, lw[i] AS word
            FROM (
                SELECT doc_id,
                       list_filter(string_split(text, ' '), x -> x <> '') AS lw
                FROM documents
            ), UNNEST(range(1, len(lw) + 1)) AS t(i)
        ), docs_enc AS (
            SELECT t.doc_id,
                   CAST(SUM(len(v.syms)) AS INTEGER) AS n_tokens,
                   md5(array_to_string(flatten(list(v.syms ORDER BY t.pos)),
                                       chr(31))) AS tokens_md5
            FROM toks t JOIN v{n_merges} v USING (word)
            GROUP BY t.doc_id
        ), ordered AS (
            SELECT CAST(CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                             AS BIGINT) % {n_shards} AS INTEGER) AS shard,
                   doc_id, n_tokens,
                   ROW_NUMBER() OVER (
                       PARTITION BY CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                                         AS BIGINT) % {n_shards}
                       ORDER BY doc_id) AS rn
            FROM docs_enc
        ), pack AS (
            SELECT shard, doc_id, n_tokens, rn,
                   CAST(1 AS BIGINT) AS seq_id,
                   CAST(0 AS BIGINT) AS "offset",
                   CAST(n_tokens AS BIGINT) AS cum
            FROM ordered WHERE rn = 1
            UNION ALL
            SELECT o.shard, o.doc_id, o.n_tokens, o.rn,
                   CASE WHEN p.cum + o.n_tokens > {seq_len}
                        THEN p.seq_id + 1 ELSE p.seq_id END,
                   CASE WHEN p.cum + o.n_tokens > {seq_len}
                        THEN 0 ELSE p.cum END,
                   CASE WHEN p.cum + o.n_tokens > {seq_len}
                        THEN o.n_tokens ELSE p.cum + o.n_tokens END
            FROM pack p JOIN ordered o ON o.shard = p.shard AND o.rn = p.rn + 1
        )
        SELECT p.shard, p.doc_id, p.n_tokens, p.seq_id, p."offset" AS offset,
               de.tokens_md5
        FROM pack p JOIN docs_enc de USING (doc_id)
        ORDER BY p.shard, p.doc_id
    """


ORACLES["q_tokenizer_apply"] = _tokenizer_apply_sql()


def _tokenizer_fertility_sql(n_merges: int = 6, min_count: int = 2) -> str:
    """Oracle for q_tokenizer_fertility: the same training replay
    (_bpe_train_ctes), then per-LANGUAGE aggregates over the word-level
    encoding join. Ratios are integer fixed point (×10000, floor
    division on exact BIGINT sums — `div`/`//` on both engines), never
    float division, per the cross-engine float contract."""
    return f"""
        WITH RECURSIVE {_bpe_train_ctes(n_merges, min_count)}, toks AS (
            SELECT d.doc_id, d.lang, lw[i] AS word
            FROM (
                SELECT doc_id, lang,
                       list_filter(string_split(text, ' '), x -> x <> '') AS lw
                FROM documents
            ) d, UNNEST(range(1, len(lw) + 1)) AS t(i)
        )
        SELECT t.lang,
               CAST(COUNT(DISTINCT t.doc_id) AS BIGINT) AS n_docs,
               CAST(COUNT(*) AS BIGINT) AS n_words,
               CAST(SUM(len(v.syms)) AS BIGINT) AS n_bpe_tokens,
               CAST(SUM(length(t.word)) AS BIGINT) AS n_chars,
               CAST(CAST(SUM(len(v.syms)) AS BIGINT) * 10000
                    // CAST(COUNT(*) AS BIGINT) AS BIGINT) AS fertility_1e4,
               CAST(CAST(SUM(length(t.word)) AS BIGINT) * 10000
                    // CAST(SUM(len(v.syms)) AS BIGINT) AS BIGINT)
                   AS compression_1e4
        FROM toks t JOIN v{n_merges} v USING (word)
        GROUP BY t.lang
        ORDER BY t.lang
    """


ORACLES["q_tokenizer_fertility"] = _tokenizer_fertility_sql()

# Packing-efficiency report (r14): the q_sequence_pack recursive fold
# plus the same two-level aggregation — certifies pack_stats.
ORACLES["q_pack_efficiency"] = """
    WITH RECURSIVE ordered AS (
        SELECT CAST(CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                         AS BIGINT) % 8 AS INTEGER) AS shard,
               doc_id,
               CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
                    AS INTEGER) AS n_tokens,
               ROW_NUMBER() OVER (
                   PARTITION BY CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                                     AS BIGINT) % 8
                   ORDER BY doc_id) AS rn
        FROM documents
    ), pack AS (
        SELECT shard, doc_id, n_tokens, rn,
               CAST(1 AS BIGINT) AS seq_id,
               CAST(n_tokens AS BIGINT) AS cum
        FROM ordered WHERE rn = 1
        UNION ALL
        SELECT o.shard, o.doc_id, o.n_tokens, o.rn,
               CASE WHEN p.cum + o.n_tokens > 64
                    THEN p.seq_id + 1 ELSE p.seq_id END,
               CASE WHEN p.cum + o.n_tokens > 64
                    THEN o.n_tokens ELSE p.cum + o.n_tokens END
        FROM pack p JOIN ordered o ON o.shard = p.shard AND o.rn = p.rn + 1
    ), per_seq AS (
        SELECT shard, seq_id,
               COUNT(*) AS n_docs,
               SUM(n_tokens) AS fill
        FROM pack GROUP BY shard, seq_id
    )
    SELECT shard,
           CAST(COUNT(*) AS BIGINT) AS n_seqs,
           CAST(SUM(n_docs) AS BIGINT) AS n_docs,
           CAST(SUM(fill) AS BIGINT) AS fill_tokens,
           CAST(SUM(CASE WHEN 64 - fill < 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_overflow,
           CAST(SUM(CASE WHEN 64 - fill > 0 THEN 64 - fill ELSE 0 END) AS BIGINT)
               AS waste_tokens
    FROM per_seq
    GROUP BY shard
    ORDER BY shard
"""


def _zvalue_sql(cols: list[str], bits: int) -> str:
    """Bit-interleave expression mirroring operators/layout.zvalue:
    column j contributes its bit i to output bit i*len(cols)+j."""
    terms = []
    for i in range(bits):
        for j, c in enumerate(cols):
            terms.append(f"((({c} >> {i}) & 1) << {i * len(cols) + j})")
    return " | ".join(terms)


def _zorder_layout_sql(bits: int = 10) -> str:
    return f"""
        WITH dims AS (
            SELECT o_orderkey,
                   o_custkey % 1024 AS d1,
                   o_orderkey % 1024 AS d2
            FROM orders
        ), zz AS (
            SELECT o_orderkey, d1, d2, {_zvalue_sql(["d1", "d2"], bits)} AS z
            FROM dims
        ), bucketed AS (
            SELECT d1, d2, NTILE(64) OVER (ORDER BY z, o_orderkey) AS bucket
            FROM zz
        )
        SELECT CAST(bucket AS INTEGER) AS bucket, COUNT(*) AS n_rows,
               MIN(d1) AS d1_min, MAX(d1) AS d1_max,
               MIN(d2) AS d2_min, MAX(d2) AS d2_max
        FROM bucketed GROUP BY bucket ORDER BY bucket
    """


ORACLES["q_zorder_layout"] = _zorder_layout_sql()


def _simhash_cte_block(n_bits: int = 32, bands: int = 4) -> str:
    """The portable-SimHash lattice as a reusable CTE block (tok/h/votes/
    sig/chunks/pairs) — shared by the standalone q_simhash_portable
    oracle and the q_multimodal_dedup composition. Per 16-bit word, md5
    of the salted token ("<word>:" prefix — an independent hash family
    per word, mirroring _salted_token_hashes), integer bit votes,
    banded equi-join, Hamming via bit_count(xor). All-integer
    arithmetic — bit-exact. The banded candidates here are the
    SINGLE-chunk scheme; Spark moved to conjunction banding in r13, but
    any scheme with recall covering the final exact Hamming filter
    yields the same pair set, so the oracle form is scheme-independent
    at the output level."""
    bit_rows = ", ".join(f"({b})" for b in range(n_bits))
    band_rows = ", ".join(f"({b})" for b in range(bands))
    width = n_bits // bands
    n_words = -(-n_bits // 16)
    word_rows = ", ".join(f"({w})" for w in range(n_words))
    return f"""tok AS (
            SELECT DISTINCT doc_id,
                   unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS token
            FROM documents
        ), h AS (
            SELECT doc_id, w.w,
                   CAST(('0x' || substring(
                       md5(CAST(w.w AS VARCHAR) || ':' || token), 1, 4)) AS BIGINT) AS v
            FROM tok CROSS JOIN (VALUES {word_rows}) AS w(w)
        ), votes AS (
            SELECT doc_id, b.b,
                   CASE WHEN SUM(CASE WHEN (v >> (b.b % 16)) & 1 = 1 THEN 1 ELSE -1 END) > 0
                        THEN 1 ELSE 0 END AS bit
            FROM h JOIN (VALUES {bit_rows}) AS b(b) ON (b.b // 16) = h.w
            GROUP BY doc_id, b.b
        ), sig AS (
            SELECT doc_id, CAST(SUM(bit * (CAST(1 AS BIGINT) << b)) AS BIGINT) AS sig
            FROM votes GROUP BY doc_id
        ), chunks AS (
            SELECT doc_id, sig, bd.band,
                   (sig >> (bd.band * {width})) & {(1 << width) - 1} AS chunk
            FROM sig CROSS JOIN (VALUES {band_rows}) AS bd(band)
        ), pairs AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                   a.sig AS s1, b.sig AS s2
            FROM chunks a
            JOIN chunks b ON a.band = b.band AND a.chunk = b.chunk
                         AND a.doc_id < b.doc_id
        )"""


def _simhash_portable_sql(n_bits: int = 32, bands: int = 4, max_hamming: int = 1) -> str:
    """Standalone simhash near-dup oracle over _simhash_cte_block."""
    return f"""
        WITH {_simhash_cte_block(n_bits, bands)}
        SELECT id_a, id_b, CAST(bit_count(xor(s1, s2)) AS INTEGER) AS hamming
        FROM pairs
        WHERE bit_count(xor(s1, s2)) <= {max_hamming}
        ORDER BY id_a, id_b
    """


ORACLES["q_simhash_portable"] = _simhash_portable_sql()


def _multimodal_dedup_sql(max_hamming: int = 1) -> str:
    """Oracle for q_multimodal_dedup: three portable edge families —
    exact-content star edges (md5 of normalized text), token-set-
    fingerprint star edges, and simhash Hamming <= 1 near-dup pairs —
    composed into min-label connected components via the recursive-CTE
    pattern proven by q_embed_dedup_pipeline. Star edges replay as
    MIN(doc_id) OVER the identity-key partition, exactly the Spark
    _modality_star_edges window."""
    toks = "list_filter(string_split(text, ' '), x -> x <> '')"
    return f"""
        WITH RECURSIVE {_simhash_cte_block()}, d AS (
            SELECT doc_id, text FROM documents WHERE len({toks}) >= 1
        ), exact_star AS (
            SELECT doc_id AS a,
                   MIN(doc_id) OVER (PARTITION BY md5(lower(trim(text)))) AS b
            FROM d
        ), fp_star AS (
            SELECT doc_id AS a,
                   MIN(doc_id) OVER (PARTITION BY md5(array_to_string(
                       list_sort(list_distinct({toks})), ' '))) AS b
            FROM d
        ), alledges AS (
            SELECT a, b FROM exact_star WHERE a <> b
            UNION
            SELECT a, b FROM fp_star WHERE a <> b
            UNION
            SELECT id_a AS a, id_b AS b FROM pairs
            WHERE bit_count(xor(s1, s2)) <= {max_hamming}
        ), edges AS (
            SELECT a AS src, b AS dst FROM alledges
            UNION ALL
            SELECT b AS src, a AS dst FROM alledges
        ), reach AS (
            SELECT doc_id AS node, doc_id AS lab FROM d
            UNION
            SELECT e.dst AS node, r.lab
            FROM reach r JOIN edges e ON e.src = r.node
        ), clusters AS (
            SELECT node, MIN(lab) AS cluster_id FROM reach GROUP BY node
        )
        SELECT CAST(cluster_id AS BIGINT) AS cluster_id,
               CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM clusters
        GROUP BY cluster_id
        HAVING COUNT(*) >= 2
        ORDER BY cluster_id
    """


ORACLES["q_multimodal_dedup"] = _multimodal_dedup_sql()

# Incremental read (r13): the file-set-difference consumption of the
# append history. Engine facts (strict file subset, refusal across a
# compaction) are runtime-guarded in the query; the DATA contract the
# oracle replays is that the v1->v3 increment equals exactly the rows
# the two later append commits wrote.
ORACLES["q_incremental_read"] = """
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents_total
    FROM orders
    WHERE o_orderstatus IN ('O', 'P')
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
"""

# Bloom skipping (r13): the equality member of the file-skipping
# family. Engine facts (blooms recorded, absent keys prune, absent read
# empty) are runtime-guarded in the query; the DATA contract the oracle
# replays is that the three bloom-guided point reads return exactly the
# corpus rows for those keys.
ORACLES["q_bloom_skipping"] = """
    SELECT o_orderkey,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents_total
    FROM orders
    WHERE o_orderkey IN (1, 7, 1000)
    GROUP BY o_orderkey
    ORDER BY o_orderkey
"""

# Row-level DELETE (r14): the CoW mechanics (pruned rewrite set, path-
# identity carry-over, no surviving predicated row) are runtime-guarded
# in the query; the DATA contract the oracle replays is that the
# post-delete table equals the corpus under NOT(predicate).
ORACLES["q_delete_where"] = """
    WITH o AS (
        SELECT o_orderstatus,
               CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    )
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(cents) AS BIGINT) AS cents_total
    FROM o
    WHERE NOT (o_orderstatus = 'F' AND cents <= 10000000)
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
"""

# Row-level UPDATE (r14): CoW mechanics runtime-guarded (bounded
# rewrite, path identity, row count invariant); the DATA contract is
# the CASE WHEN mirror of UPDATE ... SET.
ORACLES["q_update_where"] = """
    WITH o AS (
        SELECT o_orderstatus,
               CASE WHEN o_orderstatus = 'F'
                         AND CAST(FLOOR(o_totalprice * 100) AS BIGINT) <= 10000000
                    THEN 0
                    ELSE CAST(FLOOR(o_totalprice * 100) AS BIGINT) END AS cents
        FROM orders
    )
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(cents) AS BIGINT) AS cents_total
    FROM o
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
"""

# Typed-predicate DELETE (r15 gate-coverage fix): boolean partition
# predicate + ISO-string date bound (CoW), then float equality above
# Java's 1e7 sci-notation threshold (MoR, value = post-CoW max so the
# mirror is a scalar subquery). The file mechanics are runtime-guarded;
# the DATA contract is NOT(pred1) AND <> max over the corpus.
ORACLES["q_delete_typed"] = """
    WITH o AS (
        SELECT (o_orderpriority = '1-URGENT') AS urgent,
               o_orderdate,
               o_totalprice * 100 AS pricex100,
               CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    ),
    survivors AS (
        SELECT * FROM o
        WHERE NOT (urgent AND o_orderdate <= DATE '1998-01-01')
    )
    SELECT urgent,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(cents) AS BIGINT) AS cents_total
    FROM survivors
    WHERE pricex100 <> (SELECT MAX(pricex100) FROM survivors)
    GROUP BY urgent
    ORDER BY urgent
"""

# Typed-predicate UPDATE (r15): boolean-equality MoR set FIRST (the
# exact r14 silent-row-loss site — it must hit the still-partitioned
# v1 files for pruning to engage), then date-range CoW zeroing. The
# CoW leg applies AFTER, hence the ordered CASE: the date leg wins,
# then urgent, then the original cents.
ORACLES["q_update_typed"] = """
    WITH o AS (
        SELECT (o_orderpriority = '1-URGENT') AS urgent,
               o_orderdate,
               CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents0
        FROM orders
    ),
    upd AS (
        SELECT urgent,
               CASE WHEN o_orderdate >= DATE '1997-01-01' THEN 0
                    WHEN urgent THEN 777
                    ELSE cents0 END AS cents
        FROM o
    )
    SELECT urgent,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(cents) AS BIGINT) AS cents_total,
           CAST(SUM(CASE WHEN cents = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_zero
    FROM upd
    GROUP BY urgent
    ORDER BY urgent
"""

# Versioned-incremental-dedup composition (r15): the versioned feed is
# runtime-guarded (append file-set, O(delta files) increment); the
# admission DATA contract is exactly q_incremental_dedup's.
ORACLES["q_versioned_incremental_dedup"] = ORACLES["q_incremental_dedup"]

# ORC + JSONL round-trip (r15): both format legs must reproduce the
# parquet corpus exactly, so the mirror is the corpus aggregate crossed
# with the two format tags.
ORACLES["q_lakehouse_formats"] = """
    WITH p AS (
        SELECT p_partkey, p_brand,
               CAST(FLOOR(p_retailprice * 100) AS BIGINT) AS cents
        FROM part
    )
    SELECT f.fmt, p_brand,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(cents) AS BIGINT) AS cents_total,
           CAST(MIN(p_partkey) AS BIGINT) AS min_key,
           CAST(MAX(p_partkey) AS BIGINT) AS max_key
    FROM p CROSS JOIN (VALUES ('jsonl'), ('orc')) AS f(fmt)
    GROUP BY f.fmt, p_brand
    ORDER BY f.fmt, p_brand
"""

# Field-id schema evolution (r15): rename + widen are metadata-only
# (runtime-guarded); the DATA contract is that totals over BOTH evolved
# columns, across files written under both schemas, equal the corpus.
ORACLES["q_schema_evolution_versioned"] = """
    WITH o AS (
        SELECT o_orderstatus,
               CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents,
               LENGTH(o_orderpriority) AS plen
        FROM orders
        WHERE o_orderstatus IN ('F', 'O')
    )
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(cents) AS BIGINT) AS amount_total,
           CAST(SUM(plen) AS BIGINT) AS prio_total
    FROM o
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
"""

# Merge-on-read UPDATE (r14): delete-plus-insert mechanics are
# runtime-guarded (zero rewrites, file superset, new files hold exactly
# the matching rows); the DATA contract is the SAME CASE WHEN mirror as
# the CoW twin — a green row proves the two strategies agree.
ORACLES["q_update_mor"] = ORACLES["q_update_where"]

# Merge-on-read DELETE (r14): the zero-I/O mechanics (no data dir,
# identical file list, pre-read invisibility) are runtime-guarded; the
# DATA contract the oracle replays is the filter SCOPING — the 'P' rows
# appended AFTER the delete match its predicate but must survive, so
# the three-way state is corpus-recomputable.
ORACLES["q_delete_mor"] = """
    WITH o AS (
        SELECT o_orderstatus,
               CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    )
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(cents) AS BIGINT) AS cents_total
    FROM o
    WHERE o_orderstatus IN ('F', 'O')
       OR (o_orderstatus = 'P' AND cents > 20000000)
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
"""

# Snapshot rollback (r14): the manifest mechanics (exact file-list
# re-point, zero data I/O, undone snapshot intact) are runtime-guarded;
# the DATA contract is that the rolled-back read equals the pre-delete
# state — v1's 'F' rows plus v2's 'O' rows.
ORACLES["q_snapshot_rollback"] = """
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents_total
    FROM orders
    WHERE o_orderstatus IN ('F', 'O')
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
"""

# Zone-map data skipping (r13): the layout (range clustering, per-file
# min/max, manifest pruning) is engine-internal and pinned by runtime
# guards in the query; the DATA contract the oracle replays is that the
# pruned read equals the plain key-range slice — skipping lost nothing.
ORACLES["q_zone_map_skipping"] = """
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents_total
    FROM orders
    WHERE o_orderkey BETWEEN 1000 AND 2000
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
"""

def _lang_id_sql() -> str:
    """Replays functions/text.language_id: per-language stopword-hit
    counts from a generated VALUES table, argmax via struct max (same
    field-by-field comparison as Spark's array_max over struct — score
    first, then lexicographically LAST language on ties; parity probed
    on both engines). Docs with zero hits fall to 'und' via the left
    join."""
    from nyc_bikeshare_datawarehouse_spark.functions.text import _STOPWORDS

    rows = ", ".join(
        f"('{lang}', '{w}')" for lang, ws in _STOPWORDS.items() for w in ws
    )
    return f"""
        WITH toks AS (
            SELECT doc_id, lang,
                   unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS token
            FROM documents
        ), hits AS (
            SELECT t.doc_id, s.lang AS cand, COUNT(*) AS score
            FROM toks t
            JOIN (VALUES {rows}) AS s(lang, word) ON lower(t.token) = s.word
            GROUP BY t.doc_id, s.lang
        ), best AS (
            SELECT doc_id, max(struct_pack(score := score, cand := cand)) AS b
            FROM hits GROUP BY doc_id
        )
        SELECT d.doc_id, d.lang,
               COALESCE((b.b).cand, 'und') AS lang_pred,
               CAST(CASE WHEN d.lang = COALESCE((b.b).cand, 'und')
                         THEN 1 ELSE 0 END AS INTEGER) AS is_match
        FROM documents d LEFT JOIN best b USING (doc_id)
        ORDER BY d.doc_id
    """


ORACLES["q_lang_id"] = _lang_id_sql()


def _doc_features_sql() -> str:
    """q_text_stats' floor-truncated ratios + _lang_id_sql's argmax +
    the md5 token-set fingerprint, composed into one per-doc row."""
    from nyc_bikeshare_datawarehouse_spark.functions.text import _STOPWORDS

    rows = ", ".join(
        f"('{lang}', '{w}')" for lang, ws in _STOPWORDS.items() for w in ws
    )
    return f"""
        WITH toks AS (
            SELECT doc_id, lang,
                   list_filter(string_split(text, ' '), x -> x <> '') AS t
            FROM documents
        ), hits AS (
            SELECT x.doc_id, s.lang AS cand, COUNT(*) AS score
            FROM (SELECT doc_id, unnest(t) AS token FROM toks) x
            JOIN (VALUES {rows}) AS s(lang, word) ON lower(x.token) = s.word
            GROUP BY x.doc_id, s.lang
        ), best AS (
            SELECT doc_id, max(struct_pack(score := score, cand := cand)) AS b
            FROM hits GROUP BY doc_id
        )
        SELECT k.doc_id, k.lang,
               CAST(len(t) AS BIGINT) AS n_tokens,
               FLOOR(CAST(list_aggregate(list_transform(t, x -> length(x)), 'sum') AS DOUBLE)
                     / GREATEST(len(t), 1) * 100) / 100 AS avg_token_len,
               FLOOR(CAST(len(list_distinct(t)) AS DOUBLE) / GREATEST(len(t), 1) * 10000)
                   / 10000 AS distinct_token_ratio,
               COALESCE((b.b).cand, 'und') AS lang_pred,
               md5(array_to_string(list_sort(list_distinct(t)), ' ')) AS token_set_fp
        FROM toks k LEFT JOIN best b USING (doc_id)
        ORDER BY k.doc_id
    """


ORACLES["q_doc_features"] = _doc_features_sql()



# The four-stage curation funnel CTE chain, shared verbatim by
# q_curation_pipeline and q_pretraining_export (which extends it with
# mixture replication + shard layout).
_CURATION_CTES = """toks AS (
            SELECT doc_id, lang, n_chars, text,
                   list_filter(string_split(text, ' '), x -> x <> '') AS tk
            FROM documents
        ), quality AS (
            SELECT doc_id, lang, n_chars, text, tk FROM toks
            WHERE len(tk) >= 20 AND len(list_distinct(tk)) / len(tk) >= 0.3
        ), ng AS (
            SELECT DISTINCT doc_id,
                   unnest(list_transform(range(1, len(tk) - 1),
                          i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2])) AS ng
            FROM toks WHERE len(tk) >= 3
        ), contaminated AS (
            SELECT DISTINCT t.doc_id
            FROM ng t JOIN ng e ON t.ng = e.ng AND e.doc_id % 25 = 0
            WHERE t.doc_id % 25 <> 0
              AND t.doc_id IN (SELECT doc_id FROM quality)
            GROUP BY t.doc_id, e.doc_id
            HAVING COUNT(*) >= 2
        ), clean AS (
            SELECT doc_id, lang, n_chars, text, tk FROM quality
            WHERE doc_id % 25 <> 0
              AND doc_id NOT IN (SELECT doc_id FROM contaminated)
        ), keep AS (
            SELECT MIN(doc_id) AS doc_id
            FROM clean GROUP BY md5(lower(trim(text)))
        ), sel AS (
            SELECT c.doc_id, c.lang, CAST(len(c.tk) AS INTEGER) AS n_tokens,
                   CAST(SUM(len(c.tk)) OVER (
                        PARTITION BY c.lang
                        ORDER BY c.n_chars DESC, c.doc_id
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
            FROM clean c JOIN keep k USING (doc_id)
        )"""

ORACLES["q_curation_pipeline"] = f"""
        WITH {_CURATION_CTES}
        SELECT doc_id, lang, n_tokens, cum_tokens
        FROM sel WHERE cum_tokens <= 2500
"""

ORACLES["q_pretraining_export"] = f"""
        WITH {_CURATION_CTES}, sel2 AS (
            SELECT doc_id, lang FROM sel WHERE cum_tokens <= 2500
        ), mixed AS (
            SELECT s.doc_id, s.lang, e.epoch
            FROM (
                SELECT doc_id, lang,
                       (w.weight_bp // 10000)
                       + CASE WHEN CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                                        AS BIGINT) % 10000 < (w.weight_bp % 10000)
                              THEN 1 ELSE 0 END AS n_copies
                FROM sel2
                JOIN (VALUES ('en', 5000), ('de', 10000), ('es', 22500),
                             ('fr', 22500), ('zh', 35000)) AS w(lang, weight_bp)
                  USING (lang)
            ) s
            JOIN (VALUES (1), (2), (3), (4)) AS e(epoch) ON e.epoch <= s.n_copies
        ), keyed AS (
            SELECT doc_id, lang, epoch,
                   CAST(doc_id AS VARCHAR) || ':' || CAST(epoch AS VARCHAR) AS rep
            FROM mixed
        ), ranked AS (
            SELECT doc_id, lang, epoch,
                   ROW_NUMBER() OVER (ORDER BY md5(rep), rep) AS rn
            FROM keyed
        )
        SELECT doc_id, lang, epoch,
               CAST(FLOOR((rn - 1) / 32) AS INTEGER) AS shard,
               CAST((rn - 1) % 32 AS INTEGER) AS pos
        FROM ranked
        ORDER BY shard, pos
"""



# ---- round-7 additions: containment / fuzzy join / intervals / drift / LM ----

ORACLES["q_ngram_containment"] = """
    WITH docs_a AS (
        SELECT * FROM documents
        ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
        LIMIT 1000
    ), toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
        FROM docs_a
    ), sh AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])) AS s
        FROM toks
        WHERE len(t) >= 2
    ), sizes AS (
        SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
    ), inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT id_a, id_b,
           FLOOR(n_inter / LEAST(sa.n_sh, sb.n_sh) * 10000) / 10000 AS containment
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE FLOOR(n_inter / LEAST(sa.n_sh, sb.n_sh) * 10000) / 10000 >= 0.5
    ORDER BY id_a, id_b
"""

# Ed-Join replay: same union-wide df ordering, same (k*q+1)-gram prefixes,
# same position/length filters, then exact levenshtein verify — the filter
# chain is part of the checked semantics (losslessness additionally proven
# against brute force in tests/test_fuzzy.py). The engine's short-string
# length-band branch (both sides under q·(k+1) chars) is provably empty
# here — titles are 4 space-joined tokens, min length 14 — so the replay
# omits it; the branch itself is brute-force- and hypothesis-verified.
ORACLES["q_fuzzy_join"] = """
    WITH clean AS (
        SELECT doc_id AS clean_id,
               array_to_string(list_slice(list_filter(string_split(text, ' '),
                                                      x -> x <> ''), 1, 4), ' ') AS name
        FROM documents
    ), dirty AS (
        SELECT clean_id AS dirty_id,
               substring(name, 1, CAST(clean_id % length(name) AS INTEGER))
               || substring(name, CAST(clean_id % length(name) AS INTEGER) + 2) AS name
        FROM clean
    ), grams AS (
        SELECT 'l' AS side, dirty_id AS id, name, length(name) AS len,
               unnest(range(1, length(name))) AS p
        FROM dirty
        UNION ALL
        SELECT 'r' AS side, clean_id AS id, name, length(name) AS len,
               unnest(range(1, length(name))) AS p
        FROM clean
    ), occ AS (
        SELECT side, id, len, CAST(p AS INTEGER) AS p,
               substring(name, CAST(p AS INTEGER), 2) AS g
        FROM grams
    ), gdf AS (
        SELECT g, COUNT(*) AS df FROM occ GROUP BY g
    ), ranked AS (
        SELECT side, id, g, p, len,
               ROW_NUMBER() OVER (
                   PARTITION BY side, id
                   ORDER BY df, g, p
               ) AS rk
        FROM occ JOIN gdf USING (g)
    ), prefix AS (
        SELECT side, id, g, p, len FROM ranked WHERE rk <= 3
    ), cand AS (
        SELECT DISTINCT a.id AS dirty_id, b.id AS clean_id
        FROM prefix a JOIN prefix b
          ON a.side = 'l' AND b.side = 'r' AND a.g = b.g
         AND abs(a.p - b.p) <= 1 AND abs(a.len - b.len) <= 1
    )
    SELECT c.dirty_id, c.clean_id, d.name AS s_l, cl.name AS s_r,
           CAST(levenshtein(d.name, cl.name) AS INTEGER) AS dist
    FROM cand c
    JOIN dirty d ON d.dirty_id = c.dirty_id
    JOIN clean cl ON cl.clean_id = c.clean_id
    WHERE levenshtein(d.name, cl.name) <= 1
    ORDER BY c.dirty_id, c.clean_id
"""

ORACLES["q_concurrent_sessions"] = """
    WITH lagged AS (
        SELECT user_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                            > CAST(1800 AS BIGINT) * 1000000
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
        SELECT user_id, ts,
               CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS session_id
        FROM lagged
    ), stats AS (
        SELECT user_id, session_id,
               MIN(ts) AS session_start, MAX(ts) AS session_end
        FROM sess GROUP BY user_id, session_id
    )
    SELECT s.user_id, s.session_id, s.session_start, s.session_end,
           CAST((SELECT COUNT(*) FROM stats o
                 WHERE o.user_id <> s.user_id
                   AND o.session_start <= s.session_end
                   AND s.session_start <= o.session_end) AS BIGINT) AS n_concurrent
    FROM stats s
    ORDER BY user_id, session_id
"""

ORACLES["q_psi_drift"] = """
    WITH ref AS (
        SELECT value, event_id FROM events WHERE ts < TIMESTAMP '2024-01-08'
    ), cur AS (
        SELECT value FROM events WHERE ts >= TIMESTAMP '2024-01-22'
    ), tiled AS (
        SELECT value, ntile(10) OVER (ORDER BY value, event_id) AS tile FROM ref
    ), edges AS (
        SELECT MAX(value) AS edge FROM tiled WHERE tile < 10 GROUP BY tile
    ), rbin AS (
        SELECT (SELECT COUNT(*) FROM edges e WHERE e.edge < r.value) AS bin,
               COUNT(*) AS ref_n
        FROM ref r GROUP BY 1
    ), cbin AS (
        SELECT (SELECT COUNT(*) FROM edges e WHERE e.edge < c.value) AS bin,
               COUNT(*) AS cur_n
        FROM cur c GROUP BY 1
    ), bins AS (
        SELECT CAST(unnest(range(10)) AS BIGINT) AS bin
    ), tot AS (
        SELECT (SELECT COUNT(*) FROM ref) AS rt, (SELECT COUNT(*) FROM cur) AS ct
    )
    SELECT CAST(b.bin AS INTEGER) AS bin,
           CAST(COALESCE(rbin.ref_n, 0) AS BIGINT) AS ref_n,
           CAST(COALESCE(cbin.cur_n, 0) AS BIGINT) AS cur_n,
           FLOOR((CAST(COALESCE(rbin.ref_n, 0) + 1 AS DOUBLE) / (rt + 10)
                  - CAST(COALESCE(cbin.cur_n, 0) + 1 AS DOUBLE) / (ct + 10))
                 * ln((CAST(COALESCE(rbin.ref_n, 0) + 1 AS DOUBLE) / (rt + 10))
                      / (CAST(COALESCE(cbin.cur_n, 0) + 1 AS DOUBLE) / (ct + 10)))
                 * 1000000) / 1000000 AS psi_contrib
    FROM bins b
    LEFT JOIN rbin ON rbin.bin = b.bin
    LEFT JOIN cbin ON cbin.bin = b.bin
    CROSS JOIN tot
    ORDER BY bin
"""

ORACLES["q_bigram_logprob"] = """
    WITH toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
        FROM documents
    ), bi AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(t)), i -> t[i])) AS w1,
               unnest(list_transform(range(1, len(t)), i -> t[i + 1])) AS w2
        FROM toks WHERE len(t) >= 2
    ), c2 AS (
        SELECT w1, w2, COUNT(*) AS c2 FROM bi GROUP BY w1, w2
    ), c1 AS (
        SELECT w1, COUNT(*) AS c1 FROM bi GROUP BY w1
    ), v AS (
        SELECT COUNT(DISTINCT w2) AS v FROM bi
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           ROUND(AVG(ln(CAST(c2 + 1 AS DOUBLE) / CAST(c1 + v AS DOUBLE))), 4)
               AS avg_logprob
    FROM bi JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
    GROUP BY doc_id
    ORDER BY doc_id
"""

ORACLES["q_ks_drift"] = """
    WITH ref AS (
        SELECT value FROM events WHERE ts < TIMESTAMP '2024-01-08'
    ), cur AS (
        SELECT value FROM events WHERE ts >= TIMESTAMP '2024-01-22'
    ), rc AS (
        SELECT value AS v, COUNT(*) AS r FROM ref GROUP BY value
    ), cc AS (
        SELECT value AS v, COUNT(*) AS c FROM cur GROUP BY value
    ), m AS (
        SELECT COALESCE(rc.v, cc.v) AS v,
               COALESCE(rc.r, 0) AS r, COALESCE(cc.c, 0) AS c
        FROM rc FULL OUTER JOIN cc ON rc.v = cc.v
    ), cum AS (
        SELECT v,
               CAST(SUM(r) OVER (ORDER BY v) AS BIGINT) AS cr,
               CAST(SUM(c) OVER (ORDER BY v) AS BIGINT) AS cum_c
        FROM m
    ), tot AS (
        SELECT (SELECT COUNT(*) FROM ref) AS nr, (SELECT COUNT(*) FROM cur) AS nc
    )
    SELECT v AS ks_value,
           CAST(nr AS BIGINT) AS ref_n,
           CAST(nc AS BIGINT) AS cur_n,
           CAST(abs(cr * nc - cum_c * nr) AS BIGINT) AS gap_num,
           FLOOR(abs(cr * nc - cum_c * nr)
                 / CAST(nr * nc AS DOUBLE) * 1000000) / 1000000 AS ks_stat
    FROM cum CROSS JOIN tot
    ORDER BY gap_num DESC, ks_value
    LIMIT 1
"""

# Entity-resolution capstone: the Ed-Join replay (same prefixes/filters as
# q_fuzzy_join, over the clean ∪ dirty record union) feeding a recursive-CTE
# connected-components closure (q_dedup_clusters pattern), then golden-record
# selection by cluster-min id.
# Distinct-universe entity resolution: the same Ed-Join prefix rule and
# recursive-CTE closure as q_entity_resolution, but grams/candidates/
# levenshtein run over DISTINCT names (the Spark side's production
# lever), expanded back to the 4x-replicated id space by name equi-joins.
ORACLES["q_entity_resolution_distinct"] = """
    WITH RECURSIVE base AS (
        SELECT doc_id,
               array_to_string(list_slice(list_filter(string_split(text, ' '),
                                                      x -> x <> ''), 1, 4), ' ') AS name
        FROM documents
        WHERE doc_id % 2 = 0
    ), dirtyb AS (
        SELECT doc_id,
               substring(name, 1, CAST(doc_id % length(name) AS INTEGER))
               || substring(name, CAST(doc_id % length(name) AS INTEGER) + 2) AS name
        FROM base
    ), recs AS (
        SELECT doc_id * 8 + r AS id, name
        FROM base, LATERAL unnest([0, 1, 2, 3]) AS t(r)
        UNION ALL
        SELECT doc_id * 8 + r + 4 AS id, name
        FROM dirtyb, LATERAL unnest([0, 1, 2, 3]) AS t(r)
    ), names AS (
        SELECT DISTINCT name FROM recs
    ), occ AS (
        SELECT side, name, length(name) AS len, CAST(p AS INTEGER) AS p,
               substring(name, CAST(p AS INTEGER), 2) AS g
        FROM (
            SELECT 'l' AS side, name, unnest(range(1, length(name))) AS p FROM names
            UNION ALL
            SELECT 'r' AS side, name, unnest(range(1, length(name))) AS p FROM names
        )
    ), gdf AS (
        SELECT g, COUNT(*) AS df FROM occ GROUP BY g
    ), ranked AS (
        SELECT side, name, g, p, len,
               ROW_NUMBER() OVER (
                   PARTITION BY side, name
                   ORDER BY df, g, p
               ) AS rk
        FROM occ JOIN gdf USING (g)
    ), prefix AS (
        SELECT side, name, g, p, len FROM ranked WHERE rk <= 3
    ), candn AS (
        SELECT DISTINCT a.name AS na, b.name AS nb
        FROM prefix a JOIN prefix b
          ON a.side = 'l' AND b.side = 'r' AND a.g = b.g
         AND abs(a.p - b.p) <= 1 AND abs(a.len - b.len) <= 1
    ), npairs AS (
        SELECT na, nb FROM candn WHERE levenshtein(na, nb) <= 1
    ), pairs AS (
        SELECT ra.id AS id_a, rb.id AS id_b
        FROM npairs p
        JOIN recs ra ON ra.name = p.na
        JOIN recs rb ON rb.name = p.nb
        WHERE ra.id < rb.id
    ), edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION ALL
        SELECT id_b AS src, id_a AS dst FROM pairs
    ), reach AS (
        SELECT id AS node, id AS lab FROM recs
        UNION
        SELECT e.dst AS node, r.lab
        FROM reach r JOIN edges e ON e.src = r.node
    ), labels AS (
        SELECT node, MIN(lab) AS cluster_id FROM reach GROUP BY node
    )
    SELECT l.node AS rec_id, r.name, l.cluster_id, g.name AS golden_name
    FROM labels l
    JOIN recs r ON r.id = l.node
    JOIN recs g ON g.id = l.cluster_id
    ORDER BY rec_id
"""


ORACLES["q_entity_resolution"] = """
    WITH RECURSIVE docs_a AS (
        SELECT * FROM documents
        ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
        LIMIT 1000
    ), clean AS (
        SELECT doc_id AS id,
               array_to_string(list_slice(list_filter(string_split(text, ' '),
                                                      x -> x <> ''), 1, 4), ' ') AS name
        FROM docs_a
    ), dirty AS (
        SELECT id + 1000000 AS id,
               substring(name, 1, CAST(id % length(name) AS INTEGER))
               || substring(name, CAST(id % length(name) AS INTEGER) + 2) AS name
        FROM clean
    ), recs AS (
        SELECT * FROM clean UNION ALL SELECT * FROM dirty
    ), grams AS (
        SELECT 'l' AS side, id, name, length(name) AS len,
               unnest(range(1, length(name))) AS p
        FROM recs
        UNION ALL
        SELECT 'r' AS side, id, name, length(name) AS len,
               unnest(range(1, length(name))) AS p
        FROM recs
    ), occ AS (
        SELECT side, id, len, CAST(p AS INTEGER) AS p,
               substring(name, CAST(p AS INTEGER), 2) AS g
        FROM grams
    ), gdf AS (
        SELECT g, COUNT(*) AS df FROM occ GROUP BY g
    ), ranked AS (
        SELECT side, id, g, p, len,
               ROW_NUMBER() OVER (
                   PARTITION BY side, id
                   ORDER BY df, g, p
               ) AS rk
        FROM occ JOIN gdf USING (g)
    ), prefix AS (
        SELECT side, id, g, p, len FROM ranked WHERE rk <= 3
    ), cand AS (
        SELECT DISTINCT a.id AS id_a, b.id AS id_b
        FROM prefix a JOIN prefix b
          ON a.side = 'l' AND b.side = 'r' AND a.g = b.g
         AND abs(a.p - b.p) <= 1 AND abs(a.len - b.len) <= 1
         AND a.id < b.id
    ), pairs AS (
        SELECT c.id_a, c.id_b
        FROM cand c
        JOIN recs ra ON ra.id = c.id_a
        JOIN recs rb ON rb.id = c.id_b
        WHERE levenshtein(ra.name, rb.name) <= 1
    ), edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION ALL
        SELECT id_b AS src, id_a AS dst FROM pairs
    ), reach AS (
        SELECT id AS node, id AS lab FROM recs
        UNION
        SELECT e.dst AS node, r.lab
        FROM reach r JOIN edges e ON e.src = r.node
    ), labels AS (
        SELECT node, MIN(lab) AS cluster_id FROM reach GROUP BY node
    )
    SELECT l.node AS rec_id, r.name, l.cluster_id, g.name AS golden_name
    FROM labels l
    JOIN recs r ON r.id = l.node
    JOIN recs g ON g.id = l.cluster_id
    ORDER BY rec_id
"""

ORACLES["q_dataset_card"] = """
    WITH base AS (
        SELECT source, lang, n_chars, doc_id,
               md5(text) AS h,
               len(list_filter(string_split(text, ' '), x -> x <> '')) AS ntok
        FROM documents
    ), agg AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars,
               FLOOR(CAST(SUM(ntok) AS DOUBLE) / COUNT(*) * 100) / 100 AS avg_tokens,
               FLOOR((1 - CAST(COUNT(DISTINCT h) AS DOUBLE) / COUNT(*)) * 10000)
                   / 10000 AS dup_rate
        FROM base
        GROUP BY source
    ), ranked AS (
        SELECT source, n_chars,
               ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rn,
               COUNT(*) OVER (PARTITION BY source) AS n
        FROM base
    ), med AS (
        SELECT source, n_chars AS median_chars
        FROM ranked WHERE rn = FLOOR((n + 1) / 2)
    )
    SELECT agg.source, n_docs, n_langs, total_chars, avg_tokens, dup_rate,
           median_chars
    FROM agg JOIN med ON agg.source = med.source
    ORDER BY agg.source
"""


def _hilbert_layout_sql(bits: int = 8) -> str:
    """Generated level-by-level replay of the Hilbert xy→d rotation walk
    (operators/layout.py:hilbert_value): each CTE level materializes the
    rotated (x, y) and accumulated d, so the SQL stays linear in `bits`
    while the engine-side expression is the same arithmetic unrolled.
    Bit tests are (v // s) % 2 (== v & s for non-negative ints); the
    2-bit quadrant id uses DuckDB's xor(). Every level's (x, y, d) gets
    a UNIQUE name — re-aliasing `x AS x` in the same SELECT that also
    reads `x` is a trap: DuckDB's lateral alias resolution makes the
    sibling `y` expression read the NEW x (605/1024 wrong cells on a
    32×32 probe), so the state columns are x0/x1/…, never shadowed."""
    parts = [
        "WITH l0 AS (\n"
        "    SELECT o_orderkey,\n"
        "           CAST(o_custkey % 256 AS BIGINT) AS x0,\n"
        "           CAST(o_orderkey % 256 AS BIGINT) AS y0,\n"
        "           CAST(o_custkey % 256 AS BIGINT) AS d1,\n"
        "           CAST(o_orderkey % 256 AS BIGINT) AS d2,\n"
        "           CAST(0 AS BIGINT) AS h0\n"
        "    FROM orders\n"
        ")"
    ]
    lvl = 0
    for level in range(bits - 1, -1, -1):
        s = 1 << level
        i, j = lvl, lvl + 1
        n1 = (1 << bits) - 1
        rx = f"CAST((x{i} // {s}) % 2 AS BIGINT)"
        ry = f"CAST((y{i} // {s}) % 2 AS BIGINT)"
        parts.append(
            f", l{j} AS (\n"
            f"    SELECT o_orderkey, d1, d2,\n"
            f"           CASE WHEN {ry} = 0 THEN\n"
            f"                CASE WHEN {rx} = 1 THEN {n1} - y{i} ELSE y{i} END\n"
            f"                ELSE x{i} END AS x{j},\n"
            f"           CASE WHEN {ry} = 0 THEN\n"
            f"                CASE WHEN {rx} = 1 THEN {n1} - x{i} ELSE x{i} END\n"
            f"                ELSE y{i} END AS y{j},\n"
            f"           h{i} + {s * s} * xor(3 * {rx}, {ry}) AS h{j}\n"
            f"    FROM l{i}\n"
            f")"
        )
        lvl += 1
    parts.append(
        f", ranked AS (\n"
        f"    SELECT d1, d2,\n"
        f"           ntile(64) OVER (ORDER BY h{lvl}, o_orderkey) AS bucket\n"
        f"    FROM l{lvl}\n"
        f")\n"
        f"SELECT CAST(bucket AS INTEGER) AS bucket,\n"
        f"       CAST(COUNT(*) AS BIGINT) AS n_rows,\n"
        f"       MIN(d1) AS d1_min, MAX(d1) AS d1_max,\n"
        f"       MIN(d2) AS d2_min, MAX(d2) AS d2_max\n"
        f"FROM ranked GROUP BY bucket ORDER BY bucket"
    )
    return "".join(parts)


ORACLES["q_hilbert_layout"] = _hilbert_layout_sql()

ORACLES["q_psi_histogram"] = """
    WITH ref AS (
        SELECT value FROM events WHERE ts < TIMESTAMP '2024-01-08'
    ), cur AS (
        SELECT value FROM events WHERE ts >= TIMESTAMP '2024-01-22'
    ), rs AS (
        SELECT LEAST(63, GREATEST(0, CAST(FLOOR((value - 0) / 10) AS BIGINT))) AS bin,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM ref GROUP BY 1
    ), cs AS (
        SELECT LEAST(63, GREATEST(0, CAST(FLOOR((value - 0) / 10) AS BIGINT))) AS bin,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM cur GROUP BY 1
    ), bins AS (
        SELECT CAST(unnest(range(64)) AS BIGINT) AS bin
    ), tot AS (
        SELECT (SELECT SUM(cnt) FROM rs) AS rt, (SELECT SUM(cnt) FROM cs) AS ct
    )
    SELECT CAST(b.bin AS INTEGER) AS bin,
           CAST(COALESCE(rs.cnt, 0) AS BIGINT) AS ref_n,
           CAST(COALESCE(cs.cnt, 0) AS BIGINT) AS cur_n,
           FLOOR((CAST(COALESCE(rs.cnt, 0) + 1 AS DOUBLE) / (rt + 64)
                  - CAST(COALESCE(cs.cnt, 0) + 1 AS DOUBLE) / (ct + 64))
                 * ln((CAST(COALESCE(rs.cnt, 0) + 1 AS DOUBLE) / (rt + 64))
                      / (CAST(COALESCE(cs.cnt, 0) + 1 AS DOUBLE) / (ct + 64)))
                 * 1000000) / 1000000 AS psi_contrib
    FROM bins b
    LEFT JOIN rs ON rs.bin = b.bin
    LEFT JOIN cs ON cs.bin = b.bin
    CROSS JOIN tot
    ORDER BY bin
"""

ORACLES["q_cohort_retention"] = """
    WITH active AS (
        SELECT DISTINCT user_id,
               CAST(FLOOR((epoch_us(ts) - epoch_us(TIMESTAMP '2024-01-01'))
                          / (CAST(7 AS BIGINT) * 86400 * 1000000)) AS BIGINT) AS week
        FROM events
    ), first AS (
        SELECT user_id, MIN(week) AS cohort_week FROM active GROUP BY user_id
    ), joined AS (
        SELECT a.user_id, f.cohort_week, a.week - f.cohort_week AS week_offset
        FROM active a JOIN first f USING (user_id)
    ), counts AS (
        SELECT cohort_week, week_offset,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_active
        FROM joined GROUP BY cohort_week, week_offset
    ), sizes AS (
        SELECT cohort_week, CAST(COUNT(*) AS BIGINT) AS cohort_size
        FROM first GROUP BY cohort_week
    )
    SELECT cohort_week, week_offset, n_active, cohort_size,
           FLOOR(CAST(n_active AS DOUBLE) / cohort_size * 10000) / 10000
               AS retention
    FROM counts JOIN sizes USING (cohort_week)
    ORDER BY cohort_week, week_offset
"""

ORACLES["q_token_pmi"] = """
    WITH toks AS (
        SELECT list_filter(string_split(text, ' '), x -> x <> '') AS t
        FROM documents
    ), bi AS (
        SELECT unnest(list_transform(range(1, len(t)), i -> t[i])) AS w1,
               unnest(list_transform(range(1, len(t)), i -> t[i + 1])) AS w2
        FROM toks WHERE len(t) >= 2
    ), c12 AS (
        SELECT w1, w2, COUNT(*) AS c12 FROM bi GROUP BY w1, w2
    ), c1 AS (
        SELECT w1, COUNT(*) AS c1 FROM bi GROUP BY w1
    ), c2 AS (
        SELECT w2, COUNT(*) AS c2 FROM bi GROUP BY w2
    ), n AS (
        SELECT COUNT(*) AS n FROM bi
    )
    SELECT w1, w2, CAST(c12 AS BIGINT) AS c12,
           FLOOR(ln(CAST(c12 AS DOUBLE) * n / (CAST(c1 AS DOUBLE) * c2))
                 * 1000000) / 1000000 AS pmi
    FROM c12 JOIN c1 USING (w1) JOIN c2 USING (w2) CROSS JOIN n
    WHERE c12 >= 5
    ORDER BY pmi DESC, w1, w2
    LIMIT 50
"""

ORACLES["q_ols_trend"] = """
    WITH pts AS (
        SELECT event_type,
               CAST(FLOOR((epoch_us(ts) - epoch_us(TIMESTAMP '2024-01-01'))
                          / (CAST(86400 AS BIGINT) * 1000000)) AS BIGINT) AS x,
               CAST(FLOOR(value * 100) AS BIGINT) AS y
        FROM events
    ), stats AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * y) AS BIGINT) AS sxy,
               CAST(SUM(x * x) AS BIGINT) AS sxx
        FROM pts GROUP BY event_type
    )
    SELECT event_type, n,
           FLOOR(CAST(sy AS DOUBLE) / n / 100 * 10000) / 10000 AS mean_value,
           FLOOR(CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE) * 1000000) / 1000000
               AS slope_cents_per_day
    FROM stats
    ORDER BY event_type
"""


def _textrank_sql(iters: int = 10, top_k: int = 20) -> str:
    """Replay the fixed-point TextRank iteration as a generated pr0→prN
    CTE chain (the hilbert/zorder generated-oracle pattern — DuckDB's
    recursive CTEs restrict how the recursive term may be referenced, and
    a fixed iteration count unrolls cleanly). Every arithmetic op is
    integer (// is DuckDB integer division on integer operands), matching
    functions/graph.py `pagerank` bit for bit; SUM's HUGEINT widening is
    cast back to BIGINT inside each round."""
    rounds = []
    for k in range(1, iters + 1):
        rounds.append(f"""pr{k} AS (
            SELECT n.node,
                   CAST(150000000 + (85 * COALESCE(s.tot, 0)) // 100 AS BIGINT) AS score
            FROM nodes n LEFT JOIN (
                SELECT e.dst AS node,
                       SUM((p.score * e.w) // e.outw) AS tot
                FROM pr{k - 1} p JOIN edges e ON p.node = e.src
                GROUP BY e.dst
            ) s ON n.node = s.node
        )""")
    chain = ",\n        ".join(rounds)
    return f"""
        WITH toks AS (
            SELECT list_filter(string_split(text, ' '), x -> x <> '') AS t
            FROM documents
        ), prs AS (
            SELECT unnest(list_transform(range(1, len(t)),
                          i -> {{'src': t[i], 'dst': t[i + 1]}})) AS p
            FROM toks WHERE len(t) >= 2
        ), und AS (
            SELECT least(p.src, p.dst) AS a, greatest(p.src, p.dst) AS b,
                   CAST(COUNT(*) AS BIGINT) AS w
            FROM prs GROUP BY 1, 2
        ), edges0 AS (
            SELECT a AS src, b AS dst, w FROM und WHERE a <> b
            UNION ALL
            SELECT b AS src, a AS dst, w FROM und WHERE a <> b
        ), outw AS (
            SELECT src, CAST(SUM(w) AS BIGINT) AS outw FROM edges0 GROUP BY src
        ), edges AS (
            SELECT e.src, e.dst, e.w, o.outw FROM edges0 e JOIN outw o USING (src)
        ), nodes AS (
            SELECT src AS node FROM edges0 UNION SELECT dst FROM edges0
        ), pr0 AS (
            SELECT node, CAST(1000000000 AS BIGINT) AS score FROM nodes
        ),
        {chain}
        SELECT node AS token, score AS score_nano
        FROM pr{iters}
        ORDER BY score_nano DESC, token
        LIMIT {top_k}
    """


ORACLES["q_textrank"] = _textrank_sql()


# SemDeDup: same deterministic codebook (first k vecs by id, k derived
# as GREATEST(8, FLOOR(sqrt(N))) = semdedup_cell_count, the IVF rule), same rounded argmax
# (ROW_NUMBER over d DESC, cell ASC = the strict-> fold's lowest-
# index tie rule), same rounded pairwise-cosine prune. list_dot_product /
# list_cosine_similarity vs Spark's left-to-right fold hash-agree at
# ROUND(,6) (q_cosine_topk precedent).
ORACLES["q_semdedup"] = """
    WITH nk AS (
        SELECT GREATEST(8, CAST(FLOOR(sqrt(COUNT(*))) AS BIGINT)) AS k FROM embeddings
    ), cents AS (
        SELECT rn - 1 AS cell, cv
        FROM (
            SELECT ROW_NUMBER() OVER (ORDER BY vec_id) AS rn,
                   CAST(embedding AS DOUBLE[]) AS cv
            FROM embeddings
        ) CROSS JOIN nk WHERE rn <= k
    ), scores AS (
        SELECT e.vec_id, c.cell,
               ROUND(list_dot_product(CAST(e.embedding AS DOUBLE[]), c.cv)
                     / sqrt(list_dot_product(c.cv, c.cv)), 6) AS d
        FROM embeddings e CROSS JOIN cents c
    ), assign AS (
        SELECT vec_id, cell FROM (
            SELECT vec_id, cell,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY d DESC, cell ASC) AS rn
            FROM scores
        ) WHERE rn = 1
    ), pairs AS (
        SELECT b.vec_id AS removed
        FROM assign a JOIN assign b ON a.cell = b.cell AND a.vec_id < b.vec_id
        JOIN embeddings ea ON ea.vec_id = a.vec_id
        JOIN embeddings eb ON eb.vec_id = b.vec_id
        WHERE ROUND(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                           CAST(eb.embedding AS DOUBLE[])), 6) >= 0.8
    ), removed AS (SELECT DISTINCT removed FROM pairs)
    SELECT a.vec_id, CAST(a.cell AS INTEGER) AS cell,
           (r.removed IS NULL) AS kept
    FROM assign a LEFT JOIN removed r ON a.vec_id = r.removed
    ORDER BY a.vec_id
"""


# Hierarchical SemDeDup: both quantizer levels replayed — coarse = first
# s vectors by id, fine = each coarse cell's first s members by id
# (f = per-cell ROW_NUMBER - 1, the Spark array position), both argmaxes
# ROUND(,6) with ties to the lowest index, then the same within-(c1,c2)
# rounded-cosine prune. s = GREATEST(2, FLOOR(sqrt(GREATEST(4, N//64)))).
ORACLES["q_semdedup_hier"] = """
    WITH ns AS (
        SELECT GREATEST(2, CAST(FLOOR(sqrt(GREATEST(4, COUNT(*) // 64)))
                                AS BIGINT)) AS s
        FROM embeddings
    ), cents1 AS (
        SELECT rn - 1 AS c, cv
        FROM (
            SELECT ROW_NUMBER() OVER (ORDER BY vec_id) AS rn,
                   CAST(embedding AS DOUBLE[]) AS cv
            FROM embeddings
        ) CROSS JOIN ns WHERE rn <= s
    ), s1 AS (
        SELECT e.vec_id, c.c,
               ROUND(list_dot_product(CAST(e.embedding AS DOUBLE[]), c.cv)
                     / sqrt(list_dot_product(c.cv, c.cv)), 6) AS d
        FROM embeddings e CROSS JOIN cents1 c
    ), a1 AS (
        SELECT vec_id, c AS c1 FROM (
            SELECT vec_id, c,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY d DESC, c ASC) AS rn
            FROM s1
        ) WHERE rn = 1
    ), seeds AS (
        SELECT c1, vec_id,
               ROW_NUMBER() OVER (PARTITION BY c1 ORDER BY vec_id) - 1 AS f
        FROM a1
    ), cents2 AS (
        SELECT sd.c1, sd.f AS c, CAST(e.embedding AS DOUBLE[]) AS cv
        FROM seeds sd JOIN embeddings e USING (vec_id)
        CROSS JOIN ns WHERE sd.f < ns.s
    ), s2 AS (
        SELECT a.vec_id, a.c1, c.c,
               ROUND(list_dot_product(CAST(e.embedding AS DOUBLE[]), c.cv)
                     / sqrt(list_dot_product(c.cv, c.cv)), 6) AS d
        FROM a1 a
        JOIN embeddings e USING (vec_id)
        JOIN cents2 c ON c.c1 = a.c1
    ), a2 AS (
        SELECT vec_id, c1, c AS c2 FROM (
            SELECT vec_id, c1, c,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY d DESC, c ASC) AS rn
            FROM s2
        ) WHERE rn = 1
    ), prs AS (
        SELECT b.vec_id AS removed
        FROM a2 a JOIN a2 b ON a.c1 = b.c1 AND a.c2 = b.c2
                           AND a.vec_id < b.vec_id
        JOIN embeddings ea ON ea.vec_id = a.vec_id
        JOIN embeddings eb ON eb.vec_id = b.vec_id
        WHERE ROUND(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                           CAST(eb.embedding AS DOUBLE[])), 6)
              >= 0.8
    ), removed AS (SELECT DISTINCT removed FROM prs)
    SELECT a.vec_id,
           CAST(a.c1 AS INTEGER) AS coarse,
           CAST(a.c2 AS INTEGER) AS fine,
           (r.removed IS NULL) AS kept
    FROM a2 a LEFT JOIN removed r ON a.vec_id = r.removed
    ORDER BY a.vec_id
"""


# DSIR: portable md5 bucket hash (the '0x'||md5-prefix idiom), Laplace-
# smoothed bucket log-ratios computed once per bucket (exact-int-derived
# ln inputs), per-doc SUM floor-truncated (q_unigram_logprob precedent).
ORACLES["q_dsir_select"] = """
    WITH toks AS (
        SELECT doc_id, lang,
               list_filter(string_split(text, ' '), x -> x <> '') AS t
        FROM documents
    ), feats AS (
        SELECT doc_id, (lang = 'en') AS tgt,
               unnest(list_transform(range(1, len(t)), i ->
                   CAST(('0x' || substring(md5('dsir:' || t[i] || ' ' || t[i + 1]), 1, 8))
                        AS BIGINT) % 256)) AS b
        FROM toks WHERE len(t) >= 2
    ), stats AS (
        SELECT b,
               CAST(SUM(CASE WHEN tgt THEN 1 ELSE 0 END) AS DOUBLE) AS ct,
               CAST(COUNT(*) AS DOUBLE) AS call
        FROM feats GROUP BY b
    ), tot AS (
        SELECT CAST(SUM(CASE WHEN tgt THEN 1 ELSE 0 END) AS DOUBLE) AS tt,
               CAST(COUNT(*) AS DOUBLE) AS tall
        FROM feats
    ), ratio AS (
        SELECT b, ln(((ct + 1) / (tt + 256))
                     / ((call - ct + 1) / (tall - tt + 256))) AS r
        FROM stats CROSS JOIN tot
    )
    SELECT doc_id, tgt AS is_target,
           CAST(COUNT(*) AS BIGINT) AS n_feats,
           FLOOR(SUM(r) * 10000) / 10000 AS weight
    FROM feats JOIN ratio USING (b)
    GROUP BY doc_id, tgt
    ORDER BY doc_id
"""

# Naive Bayes: same add-one-smoothed class-conditional ln ratios, same
# rule label (distinct-token ratio, exact int-derived double compare),
# unseen tokens via the COALESCE(.,0)+1 smoothed-zero path.
ORACLES["q_nb_quality"] = """
    WITH toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
        FROM documents
    ), ttoks AS (
        SELECT doc_id,
               (CAST(len(list_distinct(t)) AS DOUBLE) / len(t) >= 0.5) AS y,
               unnest(t) AS tok
        FROM toks WHERE doc_id % 5 <> 0
    ), model AS (
        SELECT tok,
               CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS DOUBLE) AS c1,
               CAST(SUM(CASE WHEN NOT y THEN 1 ELSE 0 END) AS DOUBLE) AS c0
        FROM ttoks GROUP BY tok
    ), consts AS (
        SELECT CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS DOUBLE) AS n1,
               CAST(SUM(CASE WHEN NOT y THEN 1 ELSE 0 END) AS DOUBLE) AS n0,
               CAST(COUNT(DISTINCT tok) AS DOUBLE) AS v,
               CAST(COUNT(DISTINCT CASE WHEN y THEN doc_id END) AS DOUBLE) AS d1,
               CAST(COUNT(DISTINCT CASE WHEN NOT y THEN doc_id END) AS DOUBLE) AS d0
        FROM ttoks
    ), stoks AS (
        SELECT doc_id, unnest(t) AS tok FROM toks WHERE doc_id % 5 = 0
    ), scored AS (
        SELECT s.doc_id,
               ln((COALESCE(m.c1, 0) + 1) / (c.n1 + c.v))
               - ln((COALESCE(m.c0, 0) + 1) / (c.n0 + c.v)) AS llr,
               ln(c.d1 / c.d0) AS prior
        FROM stoks s LEFT JOIN model m USING (tok) CROSS JOIN consts c
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           FLOOR((MIN(prior) + SUM(llr)) * 10000) / 10000 AS nb_score
    FROM scored GROUP BY doc_id
    ORDER BY doc_id
"""

# CCNet terciles: replays q_bigram_logprob's model, then NTILE(3) per
# language under the rounded-score + doc_id total order; group stats are
# exact ints or min/max of the already-rounded score.
ORACLES["q_perplexity_buckets"] = """
    WITH toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
        FROM documents
    ), bi AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(t)), i -> t[i])) AS w1,
               unnest(list_transform(range(1, len(t)), i -> t[i + 1])) AS w2
        FROM toks WHERE len(t) >= 2
    ), c2 AS (
        SELECT w1, w2, COUNT(*) AS c2 FROM bi GROUP BY w1, w2
    ), c1 AS (
        SELECT w1, COUNT(*) AS c1 FROM bi GROUP BY w1
    ), v AS (
        SELECT COUNT(DISTINCT w2) AS v FROM bi
    ), lm AS (
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_bigrams,
               ROUND(AVG(ln(CAST(c2 + 1 AS DOUBLE) / CAST(c1 + v AS DOUBLE))), 4)
                   AS avg_logprob
        FROM bi JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
        GROUP BY doc_id
    ), bucketed AS (
        SELECT d.lang, lm.n_bigrams, lm.avg_logprob,
               NTILE(3) OVER (PARTITION BY d.lang
                              ORDER BY lm.avg_logprob DESC, lm.doc_id ASC) AS bucket
        FROM lm JOIN documents d USING (doc_id)
    )
    SELECT lang, CAST(bucket AS INTEGER) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           MIN(avg_logprob) AS min_lp,
           MAX(avg_logprob) AS max_lp,
           CAST(SUM(n_bigrams) AS BIGINT) AS n_bigrams
    FROM bucketed
    GROUP BY lang, bucket
    ORDER BY lang, bucket
"""


# tf-idf cosine with the same max_df=64 posting cap; sklearn-style
# smoothed idf. Weights are FIXED-POINT (floor(tf*idf*1e4) as BIGINT,
# the Spark side's decimal(19,0)) so dots and squared norms are exact
# integer sums (HUGEINT here ≡ decimal(38,0) there) — no summation-order
# ulps anywhere near the floor-truncated >= threshold (ADVICE r08).
ORACLES["q_tfidf_cosine"] = """
    WITH tf AS (
        SELECT doc_id, tok, CAST(COUNT(*) AS DOUBLE) AS tf
        FROM (
            SELECT doc_id,
                   unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
            FROM documents
        ) GROUP BY doc_id, tok
    ), dfreq AS (
        SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok HAVING COUNT(*) <= 64
    ), n AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents
    ), w AS (
        SELECT tf.doc_id, tf.tok,
               CAST(FLOOR(tf.tf * (ln((n.n + 1) / (dfreq.df + 1)) + 1) * 10000)
                    AS BIGINT) AS w
        FROM tf JOIN dfreq USING (tok) CROSS JOIN n
    ), norms AS (
        SELECT doc_id,
               sqrt(CAST(SUM(CAST(w AS HUGEINT) * w) AS DOUBLE)) AS nrm
        FROM w GROUP BY doc_id
    ), dots AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(SUM(CAST(a.w AS HUGEINT) * b.w) AS DOUBLE) AS dot
        FROM w a JOIN w b ON a.tok = b.tok AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT id_a, id_b,
           FLOOR(dot / (na.nrm * nb.nrm) * 10000) / 10000 AS cosine_sim
    FROM dots
    JOIN norms na ON na.doc_id = id_a
    JOIN norms nb ON nb.doc_id = id_b
    WHERE FLOOR(dot / (na.nrm * nb.nrm) * 10000) / 10000 >= 0.5
    ORDER BY id_a, id_b
"""


# Boilerplate removal: same 8-token segmentation (list slice clamps at
# the tail exactly like Spark's slice), same (source, md5(seg))
# distinct-doc threshold, cleaned text reassembled in segment order and
# md5'd — every byte of every output document is checked.
ORACLES["q_boilerplate_removal"] = """
    WITH toks AS (
        SELECT doc_id, lang,
               list_filter(string_split(text, ' '), x -> x <> '') AS t
        FROM documents
    ), segs AS (
        SELECT doc_id, lang, s['idx'] AS idx, s['seg'] AS seg
        FROM (
            SELECT doc_id, lang,
                   unnest(list_transform(
                       range(0, CAST(ceil(len(t) / 4.0) AS BIGINT)),
                       i -> {'idx': i,
                             'seg': array_to_string(t[i * 4 + 1 : i * 4 + 4], ' ')}
                   )) AS s
            FROM toks
        )
    ), dfc AS (
        SELECT lang, md5(seg) AS h, COUNT(DISTINCT doc_id) AS cnt
        FROM segs GROUP BY lang, md5(seg)
    ), flagged AS (
        SELECT s.doc_id, s.lang, s.idx, s.seg, (d.cnt >= 3) AS rm
        FROM segs s JOIN dfc d ON s.lang = d.lang AND md5(s.seg) = d.h
    )
    SELECT doc_id, lang,
           CAST(COUNT(*) AS BIGINT) AS n_segments,
           CAST(SUM(CASE WHEN rm THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
           md5(array_to_string(list(seg ORDER BY idx) FILTER (WHERE NOT rm), ' '))
               AS clean_md5
    FROM flagged
    GROUP BY doc_id, lang
    ORDER BY doc_id
"""


# Navigation functions under a total (ts, event_id) order; whole-
# partition ROWS frames made explicit because the engines' DEFAULT
# frames differ (range-to-current vs whole partition).
ORACLES["q_window_navigation"] = """
    SELECT event_id, user_id,
           FIRST_VALUE(event_type) OVER w AS first_et,
           LAST_VALUE(event_type) OVER
               (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
               AS last_et,
           NTH_VALUE(event_type, 2) OVER
               (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
               AS second_et,
           COALESCE(LEAD(event_type, 1) OVER w, 'none') AS next_et,
           FLOOR(CUME_DIST() OVER w * 10000) / 10000 AS cume
    FROM events
    WHERE user_id % 10 = 0
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ORDER BY event_id
"""

# Bag-semantics set ops; both engines implement EXCEPT ALL/INTERSECT ALL
# by per-value occurrence counts.
ORACLES["q_bag_set_ops"] = """
    SELECT 'except_all' AS op, o_custkey FROM (
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        EXCEPT ALL
        SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    )
    UNION ALL
    SELECT 'intersect_all' AS op, o_custkey FROM (
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        INTERSECT ALL
        SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    )
    ORDER BY op, o_custkey
"""


def _bfs_hops_sql(max_hops: int = 4) -> str:
    """Generated d0→dN CTE chain replaying the min-plus relaxation;
    all-integer state, edges identical to the TextRank graph (undirected
    distinct pairs, self-loops dropped)."""
    rounds = []
    for k in range(1, max_hops + 1):
        rounds.append(f"""d{k} AS (
            SELECT node, MIN(hops) AS hops FROM (
                SELECT node, hops FROM d{k - 1}
                UNION ALL
                SELECT e.dst AS node, d.hops + 1 AS hops
                FROM d{k - 1} d JOIN edges e ON d.node = e.src
            ) GROUP BY node
        )""")
    chain = ",\n        ".join(rounds)
    return f"""
        WITH toks AS (
            SELECT list_filter(string_split(text, ' '), x -> x <> '') AS t
            FROM documents
        ), prs AS (
            SELECT unnest(list_transform(range(1, len(t)),
                          i -> {{'src': t[i], 'dst': t[i + 1]}})) AS p
            FROM toks WHERE len(t) >= 2
        ), und AS (
            SELECT DISTINCT least(p.src, p.dst) AS a, greatest(p.src, p.dst) AS b
            FROM prs WHERE p.src <> p.dst
        ), edges AS (
            SELECT a AS src, b AS dst FROM und
            UNION ALL
            SELECT b AS src, a AS dst FROM und
        ), d0 AS (
            SELECT MIN(src) AS node, 0 AS hops FROM edges
        ),
        {chain}
        SELECT node AS token, CAST(hops AS INTEGER) AS hops
        FROM d{max_hops}
        ORDER BY hops, token
    """


ORACLES["q_bfs_hops"] = _bfs_hops_sql()

# Attribution: MIN/MAX of (ep, id, type) structs over an epoch-keyed
# RANGE frame — field-wise struct comparison and the -1 PRECEDING bound
# behave identically in both engines; NULL (non-touch) rows are ignored
# by MIN/MAX per aggregate semantics.
ORACLES["q_attribution"] = """
    WITH e AS (
        SELECT event_id, user_id, event_type,
               CAST(epoch_us(ts) // 1000000 AS BIGINT) AS ep
        FROM events
    ), marked AS (
        SELECT event_id, user_id, event_type, ep,
               MIN(CASE WHEN event_type IN ('view', 'click')
                        THEN {'ep': ep, 'id': event_id, 'et': event_type} END)
                   OVER w AS ft,
               MAX(CASE WHEN event_type IN ('view', 'click')
                        THEN {'ep': ep, 'id': event_id, 'et': event_type} END)
                   OVER w AS lt
        FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY ep
                     RANGE BETWEEN 86400 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_id, user_id, ep AS purchase_ep,
           ft['id'] AS first_touch_id, ft['et'] AS first_touch_type,
           lt['id'] AS last_touch_id, lt['et'] AS last_touch_type
    FROM marked
    WHERE event_type = 'purchase'
    ORDER BY event_id
"""


# VARIANT extraction: same typed $.k path, DuckDB's JSON machinery
# instead of Spark's variant binary — values must agree exactly.
ORACLES["q_variant_extract"] = """
    WITH k AS (
        SELECT event_type, CAST(json_extract(props, '$.k') AS INTEGER) AS k
        FROM events
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(k) AS BIGINT) AS sum_k,
           MIN(k) AS min_k,
           MAX(k) AS max_k
    FROM k GROUP BY event_type
    ORDER BY event_type
"""

# UDTF chunker: replay the row-at-a-time Python expansion with list ops
# — same 8-token windows, same md5 per chunk.
ORACLES["q_udtf_chunks"] = """
    WITH toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
        FROM documents
    )
    SELECT doc_id,
           CAST(s['idx'] AS INTEGER) AS chunk_idx,
           CAST(s['n'] AS INTEGER) AS n_tokens,
           s['h'] AS chunk_md5
    FROM (
        SELECT doc_id,
               unnest(list_transform(
                   range(0, CAST(ceil(len(t) / 8.0) AS BIGINT)),
                   i -> {'idx': i,
                         'n': len(t[i * 8 + 1 : i * 8 + 8]),
                         'h': md5(array_to_string(t[i * 8 + 1 : i * 8 + 8], ' '))}
               )) AS s
        FROM toks
    )
    ORDER BY doc_id, chunk_idx
"""


# Hard negatives: same codebook/assignment CTEs as q_semdedup, then
# within-cell different-label pairs ranked per anchor (ROW_NUMBER under
# the rounded-cosine + neg_id total order = the Spark window).
ORACLES["q_hard_negatives"] = """
    WITH nk AS (
        SELECT GREATEST(8, CAST(FLOOR(sqrt(COUNT(*))) AS BIGINT)) AS k FROM embeddings
    ), cents AS (
        SELECT rn - 1 AS cell, cv
        FROM (
            SELECT ROW_NUMBER() OVER (ORDER BY vec_id) AS rn,
                   CAST(embedding AS DOUBLE[]) AS cv
            FROM embeddings
        ) CROSS JOIN nk WHERE rn <= k
    ), scores AS (
        SELECT e.vec_id, c.cell,
               ROUND(list_dot_product(CAST(e.embedding AS DOUBLE[]), c.cv)
                     / sqrt(list_dot_product(c.cv, c.cv)), 6) AS d
        FROM embeddings e CROSS JOIN cents c
    ), assign AS (
        SELECT vec_id, cell FROM (
            SELECT vec_id, cell,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY d DESC, cell ASC) AS rn
            FROM scores
        ) WHERE rn = 1
    ), pairs AS (
        SELECT a.vec_id AS id, b.vec_id AS neg_id,
               ea.label AS label, eb.label AS neg_label,
               ROUND(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                            CAST(eb.embedding AS DOUBLE[])), 6)
                   AS cosine_sim
        FROM assign a JOIN assign b ON a.cell = b.cell AND a.vec_id <> b.vec_id
        JOIN embeddings ea ON ea.vec_id = a.vec_id
        JOIN embeddings eb ON eb.vec_id = b.vec_id
        WHERE ea.label <> eb.label
    ), ranked AS (
        SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY id
                                          ORDER BY cosine_sim DESC, neg_id)
                       AS INTEGER) AS rank
        FROM pairs
    )
    SELECT id, neg_id, label, neg_label, cosine_sim, rank
    FROM ranked WHERE rank <= 3
    ORDER BY id, rank
"""

# Shannon entropy from exact token counts; ln inputs are exact-int-
# derived doubles, final value floor-truncated (engine-parity rule).
ORACLES["q_token_entropy"] = """
    WITH counts AS (
        SELECT doc_id, tok, CAST(COUNT(*) AS DOUBLE) AS c
        FROM (
            SELECT doc_id,
                   unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
            FROM documents
        ) GROUP BY doc_id, tok
    )
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS distinct_tokens,
           FLOOR((ln(SUM(c)) - SUM(c * ln(c)) / SUM(c)) * 10000) / 10000
               AS entropy
    FROM counts GROUP BY doc_id
    ORDER BY doc_id
"""


# Pruned containment: calibrated df cutoff (0.9 × exact median
# per-shingle df, the calibrated_df_cutoff rank rule verbatim — same
# CTE chain as q_dedup_clusters_pruned) dropped BEFORE sizes and the
# pair join — containment over the kept-shingle universe, exactly the
# engine's pruned definition (pruned-jaccard-lattice rule).
ORACLES["q_containment_pruned"] = """
    WITH toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
        FROM documents
    ), sh0 AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])) AS s
        FROM toks
        WHERE len(t) >= 2
    ), dfreq AS (
        SELECT s, COUNT(*) AS df FROM sh0 GROUP BY s
    ), med AS (
        -- exact discrete median of the df distribution: value at rank
        -- GREATEST(1, ceil(n/2)) — the engine's calibrated_df_cutoff
        -- rank rule verbatim (ties irrelevant: value AT a rank)
        SELECT df AS m
        FROM (SELECT df, ROW_NUMBER() OVER (ORDER BY df) AS rk FROM dfreq),
             (SELECT COUNT(*) AS n FROM dfreq)
        WHERE rk = GREATEST(1, (5000 * n + 9999) // 10000)
    ), cut AS (
        SELECT GREATEST(8, (9000 * m) // 10000) AS c FROM med
    ), hot AS (
        SELECT s FROM dfreq, cut WHERE df > c
    ), sh AS (
        SELECT * FROM sh0 WHERE s NOT IN (SELECT s FROM hot)
    ), sizes AS (
        SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
    ), inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT id_a, id_b,
           FLOOR(n_inter / LEAST(sa.n_sh, sb.n_sh) * 10000) / 10000 AS containment
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE FLOOR(n_inter / LEAST(sa.n_sh, sb.n_sh) * 10000) / 10000 >= 0.5
    ORDER BY id_a, id_b
"""


# Skyline: one plain running max replays the two-phase form (x ASC,
# y DESC, id ASC total order; strict-preceding ROWS frame) — a row is
# on the front iff its y beats every strictly-preceding y.
ORACLES["q_skyline"] = """
    WITH pts AS (
        SELECT l_partkey,
               CAST(MIN(FLOOR(l_extendedprice * 100)) AS BIGINT) AS min_price_cents,
               CAST(COUNT(*) AS BIGINT) AS n_orders
        FROM lineitem GROUP BY l_partkey
    ), marked AS (
        SELECT *,
               MAX(n_orders) OVER (ORDER BY min_price_cents ASC, n_orders DESC,
                                   l_partkey ASC
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS prev_max
        FROM pts
    )
    SELECT l_partkey, min_price_cents, n_orders
    FROM marked
    WHERE prev_max IS NULL OR n_orders > prev_max
    ORDER BY min_price_cents, l_partkey
"""

# Markov transitions: LEAD under the (ts, event_id) total order, exact
# pair counts, floor-truncated row-conditional probabilities.
ORACLES["q_markov_transitions"] = """
    WITH pairs AS (
        SELECT event_type AS src,
               LEAD(event_type, 1) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) AS dst
        FROM events
    ), counts AS (
        SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS n
        FROM pairs WHERE dst IS NOT NULL GROUP BY src, dst
    ), totals AS (
        SELECT src, SUM(n) AS t FROM counts GROUP BY src
    )
    SELECT c.src, c.dst, c.n,
           FLOOR(c.n / t.t * 10000) / 10000 AS p
    FROM counts c JOIN totals t USING (src)
    ORDER BY c.src, c.dst
"""


# EWMA: same integer fold, list_reduce with first element as init —
# (a+b)//2 on non-negative BIGINTs == Spark's floor((a+b)/2).
ORACLES["q_ewma_trend"] = """
    WITH daily AS (
        SELECT event_type, date_trunc('day', ts) AS day,
               CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS cents
        FROM events GROUP BY event_type, date_trunc('day', ts)
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(arg_max(cents, day) AS BIGINT) AS last_day_cents,
           CAST(list_reduce(list(cents ORDER BY day),
                            (acc, x) -> (acc + x) // 2) AS BIGINT) AS ewma_cents
    FROM daily GROUP BY event_type
    ORDER BY event_type
"""

# Month-over-month: integer-cent monthly totals, LAG, exact delta +
# floor-truncated ratio.
ORACLES["q_period_over_period"] = """
    WITH monthly AS (
        SELECT r.r_name AS region, date_trunc('month', o.o_orderdate) AS month,
               CAST(SUM(CAST(FLOOR(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT)
                   AS rev_cents
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name, date_trunc('month', o.o_orderdate)
    )
    SELECT region, month, rev_cents,
           rev_cents - LAG(rev_cents, 1) OVER w AS delta_cents,
           FLOOR(CAST(rev_cents AS DOUBLE)
                 / LAG(rev_cents, 1) OVER w * 10000) / 10000 AS ratio
    FROM monthly
    WINDOW w AS (PARTITION BY region ORDER BY month)
    ORDER BY region, month
"""


# Data-quality expectation suite: every check is an exact COUNT shape
# (uniqueness gap, null counts, left-join orphan counts, range/
# consistency violations, cardinality delta) unioned into one report.
ORACLES["q_dq_report"] = """
    WITH rows_ AS (
        SELECT 'orders' AS table_name, 'pk_unique' AS expectation,
               CAST(COUNT(*) AS BIGINT) AS total,
               CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) AS violations
        FROM orders
        UNION ALL
        SELECT 'orders', 'custkey_not_null', CAST(COUNT(*) AS BIGINT),
               CAST(COUNT(CASE WHEN o_custkey IS NULL THEN 1 END) AS BIGINT)
        FROM orders
        UNION ALL
        SELECT 'lineitem', 'fk_orderkey_in_orders', CAST(COUNT(*) AS BIGINT),
               CAST(COUNT(CASE WHEN o.o_orderkey IS NULL THEN 1 END) AS BIGINT)
        FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
        UNION ALL
        SELECT 'orders', 'fk_custkey_in_customer', CAST(COUNT(*) AS BIGINT),
               CAST(COUNT(CASE WHEN c.c_custkey IS NULL THEN 1 END) AS BIGINT)
        FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        UNION ALL
        SELECT 'lineitem', 'quantity_in_1_50', CAST(COUNT(*) AS BIGINT),
               CAST(COUNT(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 END)
                    AS BIGINT)
        FROM lineitem
        UNION ALL
        SELECT 'documents', 'n_chars_matches_text', CAST(COUNT(*) AS BIGINT),
               CAST(COUNT(CASE WHEN n_chars <> length(text) THEN 1 END) AS BIGINT)
        FROM documents
        UNION ALL
        SELECT 'region', 'cardinality_is_5', CAST(COUNT(*) AS BIGINT),
               CAST(abs(COUNT(*) - 5) AS BIGINT)
        FROM region
        UNION ALL
        SELECT 'events', 'value_non_negative', CAST(COUNT(*) AS BIGINT),
               CAST(COUNT(CASE WHEN value < 0 THEN 1 END) AS BIGINT)
        FROM events
    )
    SELECT table_name, expectation, total, violations,
           (violations = 0) AS passed
    FROM rows_
    ORDER BY table_name, expectation
"""


# Spatial join: brute-force pairs + the SAME haversine formula (libm
# trig parity, q_unigram_logprob-class; distance floor-truncated before
# the compare) — the blocking join must be lossless vs this.
ORACLES["q_spatial_join"] = """
    WITH pts AS (
        SELECT c_custkey AS id,
               (c_custkey % 100) / 10.0 AS lat,
               ((c_custkey * 7) % 100) / 10.0 AS lon
        FROM customer
    ), pairs AS (
        SELECT a.id AS id_a, b.id AS id_b,
               FLOOR(2 * 6371.0 * asin(sqrt(
                   sin(radians(b.lat - a.lat) / 2) * sin(radians(b.lat - a.lat) / 2)
                   + cos(radians(a.lat)) * cos(radians(b.lat))
                   * sin(radians(b.lon - a.lon) / 2) * sin(radians(b.lon - a.lon) / 2)
               )) * 10000) / 10000 AS dist_km
        FROM pts a JOIN pts b ON a.id < b.id
    )
    SELECT id_a, id_b, dist_km
    FROM pairs WHERE dist_km <= 50.0
    ORDER BY id_a, id_b
"""


# Basket rules: identical pair/item supports (distinct parts per order,
# unordered pairs), confidence and lift floor-truncated; the basket-
# array pair explode is replayed as an items self-join on the order.
ORACLES["q_basket_rules"] = """
    WITH items AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), n AS (
        SELECT CAST(COUNT(DISTINCT l_orderkey) AS DOUBLE) AS n FROM lineitem
    ), pair_support AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
               CAST(COUNT(*) AS BIGINT) AS n_both
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY a.l_partkey, b.l_partkey
        HAVING COUNT(*) >= 3
    ), item_support AS (
        SELECT l_partkey AS part, CAST(COUNT(*) AS BIGINT) AS n_item
        FROM items GROUP BY l_partkey
    )
    SELECT p.part_a, p.part_b, p.n_both,
           FLOOR(CAST(p.n_both AS DOUBLE) / sa.n_item * 10000) / 10000
               AS confidence_ab,
           FLOOR(CAST(p.n_both AS DOUBLE) * n.n
                 / (sa.n_item * sb.n_item) * 10000) / 10000 AS lift
    FROM pair_support p
    JOIN item_support sa ON sa.part = p.part_a
    JOIN item_support sb ON sb.part = p.part_b
    CROSS JOIN n
    ORDER BY p.n_both DESC, p.part_a, p.part_b
    LIMIT 100
"""


# Leakage-safe split: the q_dedup_clusters_pruned closure (df-pruned
# jaccard -> recursive-CTE components) extended with the md5 bucket
# split keyed on CLUSTER id and a cluster-size leak flag.
ORACLES["q_leakage_safe_split"] = """
    WITH RECURSIVE toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
        FROM documents
    ), sh0 AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])) AS s
        FROM toks
        WHERE len(t) >= 2
    ), dfreq AS (
        SELECT s, COUNT(*) AS df FROM sh0 GROUP BY s
    ), med AS (
        SELECT df AS m
        FROM (SELECT df, ROW_NUMBER() OVER (ORDER BY df) AS rk FROM dfreq),
             (SELECT COUNT(*) AS n FROM dfreq)
        WHERE rk = GREATEST(1, (5000 * n + 9999) // 10000)
    ), cut AS (
        SELECT GREATEST(8, (9000 * m) // 10000) AS c FROM med
    ), hot AS (
        SELECT s FROM dfreq, cut WHERE df > c
    ), sh AS (
        SELECT * FROM sh0 WHERE s NOT IN (SELECT s FROM hot)
    ), sizes AS (
        SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
    ), inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ), prs AS (
        SELECT id_a, id_b
        FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE FLOOR(n_inter / (sa.n_sh + sb.n_sh - n_inter) * 10000) / 10000 >= 0.5
    ), edges AS (
        SELECT id_a AS src, id_b AS dst FROM prs
        UNION ALL
        SELECT id_b AS src, id_a AS dst FROM prs
    ), reach AS (
        SELECT doc_id AS node, doc_id AS lab FROM documents
        UNION
        SELECT e.dst AS node, r.lab
        FROM reach r JOIN edges e ON e.src = r.node
    ), clusters AS (
        SELECT node AS doc_id, MIN(lab) AS cluster_id
        FROM reach
        GROUP BY node
    ), csize AS (
        SELECT cluster_id, COUNT(*) AS sz FROM clusters GROUP BY cluster_id
    )
    SELECT c.doc_id, c.cluster_id,
           CASE WHEN b.bucket < 8000 THEN 'train'
                WHEN b.bucket < 9000 THEN 'val'
                ELSE 'test' END AS split,
           (s.sz > 1) AS leak_risk
    FROM clusters c
    JOIN csize s USING (cluster_id)
    JOIN (
        SELECT cluster_id,
               CAST(('0x' || substring(md5(CAST(cluster_id AS VARCHAR)), 1, 8))
                    AS BIGINT) % 10000 AS bucket
        FROM (SELECT DISTINCT cluster_id FROM clusters)
    ) b USING (cluster_id)
    ORDER BY c.doc_id
"""


# Linear leakage-safe split: PRECOMPUTED clusters (exact-dedup keepers,
# the q_dedup_apply lattice) -> md5-bucket split on cluster_id + the
# multi-member leak flag. No pair verify / CC in either engine.
ORACLES["q_leakage_split_precomputed"] = """
    WITH hashed AS (
        SELECT doc_id, md5(lower(trim(text))) AS h FROM documents
    ), reps AS (
        SELECT h, MIN(doc_id) AS cluster_id FROM hashed GROUP BY h
    ), clusters AS (
        SELECT hashed.doc_id, reps.cluster_id FROM hashed JOIN reps USING (h)
    ), flagged AS (
        SELECT doc_id, cluster_id,
               CAST(('0x' || substring(md5(CAST(cluster_id AS VARCHAR)), 1, 8))
                    AS BIGINT) % 10000 AS bucket,
               COUNT(*) OVER (PARTITION BY cluster_id) > 1 AS leak_risk
        FROM clusters
    )
    SELECT doc_id, cluster_id,
           CASE WHEN bucket < 8000 THEN 'train'
                WHEN bucket < 9000 THEN 'val'
                ELSE 'test' END AS split,
           leak_risk
    FROM flagged
    ORDER BY doc_id
"""


# SQL warehouse demo: the identical star-view derivation + five-question
# multi-CTE replayed verbatim (integer rules throughout; the only float is
# the prcp literal, used solely as a wet/dry predicate).
ORACLES["q_sql_warehouse"] = """
    WITH trips AS (
        SELECT o_orderkey AS trip_id,
               CAST(o_orderdate AS DATE) AS start_date,
               (o_orderkey % 3540) + 60 AS duration_sec,
               o_orderkey % 3 AS gender,
               o_custkey % 50 AS station_id
        FROM orders
    ), dim_dt AS (
        SELECT DISTINCT start_date AS d, year(start_date) AS year,
               month(start_date) AS month
        FROM trips
    ), weatherf AS (
        SELECT d, (day(d) % 4) * 0.25 AS prcp FROM dim_dt
    ), monthly AS (
        SELECT dd.year, dd.month,
               CAST(dd.year AS VARCHAR) || '-' ||
                   LPAD(CAST(dd.month AS VARCHAR), 2, '0') AS ym,
               COUNT(*) AS trips
        FROM trips t JOIN dim_dt dd ON dd.d = t.start_date
        GROUP BY dd.year, dd.month
    ), yearly AS (
        SELECT dd.year, COUNT(*) AS trips,
               CAST(FLOOR(SUM(t.duration_sec) / 3600) AS BIGINT) AS hours
        FROM trips t JOIN dim_dt dd ON dd.d = t.start_date
        GROUP BY dd.year
    ), by_gender AS (
        SELECT gender, COUNT(*) AS trips FROM trips GROUP BY gender
    ), ranked AS (
        SELECT ym, trips,
               ROW_NUMBER() OVER (ORDER BY trips DESC, ym) AS rk_hi,
               ROW_NUMBER() OVER (ORDER BY trips ASC,  ym) AS rk_lo
        FROM monthly
    ), weather AS (
        SELECT CASE WHEN w.prcp > 0 THEN 'wet' ELSE 'dry' END AS cond,
               COUNT(*) AS trips, COUNT(DISTINCT w.d) AS days
        FROM trips t JOIN weatherf w ON w.d = t.start_date
        GROUP BY CASE WHEN w.prcp > 0 THEN 'wet' ELSE 'dry' END
    ), by_station AS (
        SELECT 'S' || LPAD(CAST(t.station_id AS VARCHAR), 2, '0')
                   AS station_name,
               COUNT(*) AS trips,
               ROW_NUMBER() OVER (
                   ORDER BY COUNT(*) DESC,
                            'S' || LPAD(CAST(t.station_id AS VARCHAR), 2, '0')
               ) AS rk
        FROM trips t
        GROUP BY t.station_id
    ), wtypes AS (
        SELECT UNNEST([1,2,3,4,5,6,7,8,9,10,11,12,13,14,15,16,17,18,19,21,22])
               AS weather_type_id
    ), bridge AS (
        SELECT d, ([1,3,8,16,18])[day(d) % 5 + 1] AS weather_type_id
        FROM dim_dt
    ), by_wt AS (
        SELECT b.weather_type_id, COUNT(*) AS trips
        FROM trips t
        JOIN bridge b ON b.d = t.start_date
        JOIN wtypes wt ON wt.weather_type_id = b.weather_type_id
        GROUP BY b.weather_type_id
    )
    SELECT * FROM (
        SELECT 'trips_month' AS metric, ym AS k, trips AS v FROM monthly
        UNION ALL
        SELECT 'trips_year', CAST(year AS VARCHAR), trips FROM yearly
        UNION ALL
        SELECT 'hours_year', CAST(year AS VARCHAR), hours FROM yearly
        UNION ALL
        SELECT 'trips_gender', CAST(gender AS VARCHAR), trips FROM by_gender
        UNION ALL
        SELECT 'peak_month', ym, trips FROM ranked WHERE rk_hi = 1
        UNION ALL
        SELECT 'low_month', ym, trips FROM ranked WHERE rk_lo = 1
        UNION ALL
        SELECT 'trips_per_day_' || cond, cond,
               CAST(FLOOR(trips / days) AS BIGINT) FROM weather
        UNION ALL
        SELECT 'top_station', station_name, trips FROM by_station WHERE rk = 1
        UNION ALL
        SELECT 'trips_wt', CAST(weather_type_id AS VARCHAR), trips FROM by_wt
    )
    ORDER BY metric, k
"""


# UDAF geometric mean: exp(avg(ln x)) — the truncation absorbs the
# np-vs-SQL summation-order ulps (q_unigram_logprob class). Domain is
# value > 0 in both engines: DuckDB ln(0) hard-errors, numpy -> -inf.
ORACLES["q_udaf_geomean"] = """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           FLOOR(exp(AVG(ln(value))) * 10000) / 10000 AS geo_mean
    FROM events
    WHERE value > 0
    GROUP BY event_type
    ORDER BY event_type
"""


# Temperature mix: quantized-sqrt weights (s = floor(sqrt(n)*1e4) per
# group BEFORE summation, so S is an exact integer sum — no float
# summation-order ulps), one double division on exact integer operands,
# then the mixture_upsample integer epoch rule (md5 bucket fractional
# accept). alpha fixed at 0.5: IEEE sqrt is correctly rounded, pow is not.
ORACLES["q_temperature_mix"] = """
    WITH counts AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM documents GROUP BY lang
    ), sc AS (
        SELECT lang, n_docs,
               CAST(FLOOR(sqrt(n_docs) * 10000) AS BIGINT) AS s
        FROM counts
    ), tot AS (
        SELECT CAST(SUM(n_docs) AS BIGINT) AS nn, CAST(SUM(s) AS BIGINT) AS ss
        FROM sc
    ), w AS (
        SELECT lang,
               CAST(FLOOR(10000.0 * nn * s
                          / (CAST(n_docs AS DOUBLE) * ss)) AS BIGINT) AS weight_bp
        FROM sc CROSS JOIN tot
    ), m AS (
        SELECT d.doc_id, d.lang, w.weight_bp,
               (w.weight_bp // 10000)
               + CASE WHEN CAST(('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))
                                AS BIGINT) % 10000 < (w.weight_bp % 10000)
                      THEN 1 ELSE 0 END AS n_copies
        FROM documents d JOIN w USING (lang)
    )
    SELECT doc_id, lang, weight_bp, CAST(t.e AS INTEGER) AS epoch
    FROM m, LATERAL unnest(range(1, CAST(n_copies AS BIGINT) + 1)) AS t(e)
    ORDER BY doc_id, epoch
"""


# Winsorization: exact p05/p95 bounds from the sorted ROW_NUMBER (the
# sequential verifier of exact_rank_values), clip, integer-cent report;
# the mean mirrors Spark's floor(double-division of exact longs).
ORACLES["q_winsorize"] = """
    WITH cnt AS (
        SELECT COUNT(*) AS n FROM events
        WHERE value IS NOT NULL AND NOT isnan(value)
    ), rk AS (
        SELECT GREATEST(1, (500 * n + 9999) // 10000) AS r05,
               GREATEST(1, (9500 * n + 9999) // 10000) AS r95
        FROM cnt
    ), ranked AS (
        SELECT value, ROW_NUMBER() OVER (ORDER BY value) AS rn
        FROM events WHERE value IS NOT NULL AND NOT isnan(value)
    ), bounds AS (
        SELECT (SELECT value FROM ranked, rk WHERE rn = r05) AS lo,
               (SELECT value FROM ranked, rk WHERE rn = r95) AS hi
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN value < lo THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_lo,
           CAST(SUM(CASE WHEN value > hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_hi,
           CAST(FLOOR(
               CAST(SUM(CAST(FLOOR(LEAST(GREATEST(value, lo), hi) * 100) AS BIGINT))
                    AS DOUBLE) / COUNT(*)
           ) AS BIGINT) AS mean_cents
    FROM events, bounds
    WHERE value IS NOT NULL AND NOT isnan(value)
    GROUP BY event_type
    ORDER BY event_type
"""


# Rendezvous sharding: both argmax assignments replayed — per (doc,
# shard) candidate longs from the '0x'||md5-prefix idiom, winner =
# ROW_NUMBER over (h DESC, s ASC), matching the strict-> fold's
# lowest-id tie rule.
ORACLES["q_rendezvous_shards"] = """
    WITH c8 AS (
        SELECT d.doc_id, CAST(t.s AS INTEGER) AS s,
               CAST(('0x' || substring(md5(CAST(d.doc_id AS VARCHAR) || ':' ||
                                           CAST(t.s AS VARCHAR)), 1, 15))
                    AS BIGINT) AS h
        FROM documents d, LATERAL unnest(range(0, 8)) AS t(s)
    ), a8 AS (
        SELECT doc_id, s AS shard8 FROM (
            SELECT doc_id, s,
                   ROW_NUMBER() OVER (PARTITION BY doc_id
                                      ORDER BY h DESC, s ASC) AS rn
            FROM c8
        ) WHERE rn = 1
    ), c9 AS (
        SELECT d.doc_id, CAST(t.s AS INTEGER) AS s,
               CAST(('0x' || substring(md5(CAST(d.doc_id AS VARCHAR) || ':' ||
                                           CAST(t.s AS VARCHAR)), 1, 15))
                    AS BIGINT) AS h
        FROM documents d, LATERAL unnest(range(0, 9)) AS t(s)
    ), a9 AS (
        SELECT doc_id, s AS shard9 FROM (
            SELECT doc_id, s,
                   ROW_NUMBER() OVER (PARTITION BY doc_id
                                      ORDER BY h DESC, s ASC) AS rn
            FROM c9
        ) WHERE rn = 1
    )
    SELECT a8.doc_id, a8.shard8, a9.shard9,
           (a8.shard8 <> a9.shard9) AS moved
    FROM a8 JOIN a9 USING (doc_id)
    ORDER BY a8.doc_id
"""


# Grouped exact median: per-group sequential verifier — rank =
# GREATEST(1, ceil(n_g/2)) against a PARTITIONed ROW_NUMBER.
ORACLES["q_grouped_median"] = """
    WITH cnt AS (
        SELECT event_type, COUNT(*) AS n
        FROM events WHERE value IS NOT NULL AND NOT isnan(value)
        GROUP BY event_type
    ), ranked AS (
        SELECT event_type, value,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value) AS rn
        FROM events WHERE value IS NOT NULL AND NOT isnan(value)
    )
    SELECT c.event_type,
           CAST(c.n AS BIGINT) AS n,
           CAST(GREATEST(1, (5000 * c.n + 9999) // 10000) AS BIGINT) AS rank,
           r.value
    FROM cnt c
    JOIN ranked r
      ON r.event_type = c.event_type
     AND r.rn = GREATEST(1, (5000 * c.n + 9999) // 10000)
    ORDER BY c.event_type
"""


# Grouped multi-quantile: the same sequential verifier, one target rank
# per (group, bp) — value-at-rank is tie-order independent so the
# arbitrary ROW_NUMBER tie order cannot flip the hash.
ORACLES["q_grouped_quartiles"] = """
    WITH v AS (
        SELECT lang, CAST(n_chars AS DOUBLE) AS val
        FROM documents
        WHERE lang IS NOT NULL AND n_chars IS NOT NULL
    ), ranked AS (
        SELECT lang, val,
               ROW_NUMBER() OVER (PARTITION BY lang ORDER BY val) AS rn,
               COUNT(*) OVER (PARTITION BY lang) AS n
        FROM v
    ), qs AS (
        SELECT CAST(UNNEST([2500, 5000, 7500]) AS INTEGER) AS q_bp
    )
    SELECT r.lang,
           q.q_bp,
           CAST(r.n AS BIGINT) AS n,
           CAST(r.rn AS BIGINT) AS rank,
           r.val AS value
    FROM ranked r
    JOIN qs q ON r.rn = GREATEST(1, (q.q_bp * r.n + 9999) // 10000)
    ORDER BY r.lang, q.q_bp
"""


# Exact quantiles: sequential verifier — rank = GREATEST(1, ceil(q*N))
# in basis-point integer arithmetic. DuckDB ROUND is half-away-from-zero;
# the engine deliberately matches it with floor(q*10000 + 0.5) (half-UP —
# NOT Python round()'s banker's rounding, which diverges on .5-bp values;
# ADVICE r09). Value looked up in the fully sorted ROW_NUMBER order;
# ties are benign: rank selection by value. NaN excluded like NULL on
# both sides (engine _non_null_vals <-> NOT isnan here).
ORACLES["q_exact_quantiles"] = """
    WITH cnt AS (
        SELECT COUNT(*) AS n FROM events
        WHERE value IS NOT NULL AND NOT isnan(value)
    ), qs AS (
        SELECT q,
               GREATEST(1, (CAST(ROUND(q * 10000) AS BIGINT) * n + 9999)
                           // 10000) AS rank
        FROM (SELECT CAST(unnest([0.25, 0.5, 0.75, 0.9]) AS DOUBLE) AS q)
        CROSS JOIN cnt
    ), ranked AS (
        SELECT value, ROW_NUMBER() OVER (ORDER BY value) AS rn
        FROM events WHERE value IS NOT NULL AND NOT isnan(value)
    )
    SELECT qs.q, CAST(qs.rank AS BIGINT) AS rank, r.value
    FROM qs JOIN ranked r ON r.rn = qs.rank
    ORDER BY qs.q
"""


# Sliding distinct: same 2-window membership expansion, COUNT(DISTINCT)
# per window — all exact integers.
ORACLES["q_sliding_distinct"] = """
    WITH ev AS (
        SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS h, user_id FROM events
    ), expanded AS (
        SELECT CAST(g.s AS TIMESTAMP) AS window_start, user_id
        FROM ev, LATERAL unnest([h - INTERVAL 1 HOUR, h]) AS g(s)
    )
    SELECT window_start,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM expanded
    GROUP BY window_start
    ORDER BY window_start
"""


# ---- round-11 additions: stats lifecycle / rolling median / LSH accuracy / MMR


# Stats lifecycle: the ENGINE reads these values back out of its catalog
# after ANALYZE TABLE (exact stats only — row count, min/max/null count);
# the oracle recomputes them from the source relation, so the hash gate
# fails if ANALYZE stops populating exact statistics.
ORACLES["q_stats_lifecycle"] = """
    SELECT stat, value FROM (
        SELECT 'o_custkey_max' AS stat, CAST(MAX(o_custkey) AS BIGINT) AS value FROM orders
        UNION ALL SELECT 'o_custkey_min', CAST(MIN(o_custkey) AS BIGINT) FROM orders
        UNION ALL SELECT 'o_custkey_num_nulls', CAST(COUNT(*) - COUNT(o_custkey) AS BIGINT) FROM orders
        UNION ALL SELECT 'row_count', CAST(COUNT(*) AS BIGINT) FROM orders
    )
    ORDER BY stat
"""


# Rolling median: quantile_disc(0.5) over the same 5-row frame = the
# discrete lower median (element AT rank ceil(n/2)) the engine picks via
# array_sort + element_at — a data element, no interpolation, bit-exact.
ORACLES["q_rolling_median"] = """
    SELECT user_id, event_id,
           quantile_disc(value, 0.5) OVER w AS rolling_med,
           CAST(COUNT(value) OVER w AS INTEGER) AS n_in_frame
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
    ORDER BY user_id, event_id
"""


# MinHash estimate-vs-exact error: the q_minhash_portable lattice CTEs
# verbatim (md5 min-hashes, banded candidates), then per candidate pair
# the signature match count and the exact shingle intersection — all
# integer arithmetic (// mirrors the engine's floor of an exact-regime
# double division).
ORACLES["q_minhash_est_error"] = """
    WITH toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
        FROM documents
    ), sh AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])) AS s
        FROM toks WHERE len(t) >= 2
    ), hashes AS (
        SELECT doc_id, i,
               MIN(CAST(('0x' || substring(md5(CAST(i AS VARCHAR) || ':' || s), 1, 15)) AS BIGINT)) AS mh
        FROM sh CROSS JOIN (SELECT unnest(range(12)) AS i)
        GROUP BY doc_id, i
    ), bands AS (
        SELECT doc_id, i // 3 AS band,
               md5(string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i)) AS band_sig
        FROM hashes GROUP BY doc_id, i // 3
    ), cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a
        JOIN bands b ON a.band = b.band AND a.band_sig = b.band_sig
                     AND a.doc_id < b.doc_id
    ), est AS (
        SELECT c.id_a, c.id_b,
               SUM(CASE WHEN ha.mh = hb.mh THEN 1 ELSE 0 END) AS matches
        FROM cand c
        JOIN hashes ha ON ha.doc_id = c.id_a
        JOIN hashes hb ON hb.doc_id = c.id_b AND hb.i = ha.i
        GROUP BY c.id_a, c.id_b
    ), sizes AS (
        SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
    ), inter AS (
        SELECT c.id_a, c.id_b, COUNT(*) AS n_inter
        FROM cand c
        JOIN sh a ON a.doc_id = c.id_a
        JOIN sh b ON b.doc_id = c.id_b AND b.s = a.s
        GROUP BY c.id_a, c.id_b
    )
    SELECT e.id_a, e.id_b,
           CAST(e.matches * 10000 // 12 AS BIGINT) AS est_bp,
           CAST(COALESCE(i.n_inter, 0) * 10000
                // (sa.n + sb.n - COALESCE(i.n_inter, 0)) AS BIGINT) AS jac_bp,
           CAST(ABS(e.matches * 10000 // 12
                    - COALESCE(i.n_inter, 0) * 10000
                      // (sa.n + sb.n - COALESCE(i.n_inter, 0))) AS BIGINT) AS err_bp
    FROM est e
    JOIN sizes sa ON sa.doc_id = e.id_a
    JOIN sizes sb ON sb.doc_id = e.id_b
    LEFT JOIN inter i ON i.id_a = e.id_a AND i.id_b = e.id_b
    ORDER BY e.id_a, e.id_b
"""


# LSH recall report: exact-jaccard ground truth (the pruned-lattice
# jaccard rule verbatim, floor-trunc >= 0.5) FULL OUTER JOIN the banded
# candidates -> one row of confusion counts.
ORACLES["q_lsh_recall"] = """
    WITH toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
        FROM documents
    ), sh AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])) AS s
        FROM toks WHERE len(t) >= 2
    ), hashes AS (
        SELECT doc_id, i,
               MIN(CAST(('0x' || substring(md5(CAST(i AS VARCHAR) || ':' || s), 1, 15)) AS BIGINT)) AS mh
        FROM sh CROSS JOIN (SELECT unnest(range(12)) AS i)
        GROUP BY doc_id, i
    ), bands AS (
        SELECT doc_id, i // 3 AS band,
               md5(string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i)) AS band_sig
        FROM hashes GROUP BY doc_id, i // 3
    ), cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a
        JOIN bands b ON a.band = b.band AND a.band_sig = b.band_sig
                     AND a.doc_id < b.doc_id
    ), sizes AS (
        SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
    ), inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ), truth AS (
        SELECT id_a, id_b
        FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE FLOOR(n_inter / (sa.n + sb.n - n_inter) * 10000) / 10000 >= 0.5
    ), conf AS (
        SELECT
            CAST(SUM(CASE WHEN t.id_a IS NOT NULL AND p.id_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS tp,
            CAST(SUM(CASE WHEN t.id_a IS NOT NULL AND p.id_a IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS fn,
            CAST(SUM(CASE WHEN t.id_a IS NULL AND p.id_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS fp
        FROM truth t
        FULL OUTER JOIN cand p ON t.id_a = p.id_a AND t.id_b = p.id_b
    )
    SELECT tp, fn, fp, CAST(tp * 10000 // (tp + fn) AS BIGINT) AS recall_bp
    FROM conf
"""


# MMR diverse top-k: the greedy replayed argmax-by-argmax as a recursive
# CTE over the same 64-row shortlist and integer micro-unit cosines —
# NOT just the final set; a selection-order divergence flips the hash.
ORACLES["q_mmr_diverse"] = """
    WITH RECURSIVE probe AS (
        SELECT CAST(embedding AS DOUBLE[]) AS p FROM embeddings WHERE vec_id = 0
    ), short AS (
        SELECT e.vec_id AS id, CAST(e.embedding AS DOUBLE[]) AS emb,
               CAST(ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), probe.p) * 1e6, 0) AS BIGINT) AS rel_u
        FROM embeddings e, probe
        WHERE e.vec_id <> 0
        ORDER BY rel_u DESC, e.vec_id
        LIMIT 64
    ), pairs AS (
        SELECT a.id AS va, b.id AS vb,
               CAST(ROUND(list_cosine_similarity(a.emb, b.emb) * 1e6, 0) AS BIGINT) AS cos_u
        FROM short a JOIN short b ON a.id <> b.id
    ), sel AS (
        SELECT 0 AS step, CAST([] AS BIGINT[]) AS sel_ids
        UNION ALL
        SELECT step + 1,
               list_append(sel_ids, (
                   SELECT s.id
                   FROM short s
                   WHERE NOT list_contains(sel.sel_ids, s.id)
                   ORDER BY 70 * s.rel_u - 30 * COALESCE((
                       SELECT MAX(p2.cos_u) FROM pairs p2
                       WHERE p2.va = s.id AND list_contains(sel.sel_ids, p2.vb)
                   ), 0) DESC, s.id
                   LIMIT 1
               ))
        FROM sel
        WHERE step < 10
    ), final AS (
        SELECT sel_ids FROM sel WHERE step = 10
    ), ranked AS (
        SELECT unnest(sel_ids) AS id, generate_subscripts(sel_ids, 1) AS rnk FROM final
    )
    SELECT CAST(r.rnk AS INTEGER) AS rank, r.id, s.rel_u,
           CAST(COALESCE((SELECT MAX(p3.cos_u) FROM pairs p3
                          JOIN ranked r2 ON r2.id = p3.vb AND r2.rnk < r.rnk
                          WHERE p3.va = r.id), 0) AS BIGINT) AS maxsim_u,
           CAST(70 * s.rel_u - 30 * COALESCE((SELECT MAX(p4.cos_u) FROM pairs p4
                          JOIN ranked r4 ON r4.id = p4.vb AND r4.rnk < r.rnk
                          WHERE p4.va = r.id), 0) AS BIGINT) AS score_u
    FROM ranked r JOIN short s ON s.id = r.id
    ORDER BY rank
"""


# Content checksum: the oracle recomputes the SAME portable checksum
# (md5 first-60-bits summed exactly) independently — cross-engine
# agreement is the point of the query. Each column is tokenized as
# md5(value) or '-' for NULL before the row md5 (the engine's
# injective, NULL-safe canonicalization, mirrored verbatim).
ORACLES["q_table_checksum"] = """
    SELECT 'documents' AS table_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(CAST(SUM(CAST(('0x' || substring(md5(
               COALESCE(md5(CAST(doc_id AS VARCHAR)), '-') || '|' ||
               COALESCE(md5(text), '-') || '|' ||
               COALESCE(md5(lang), '-') || '|' ||
               COALESCE(md5(source), '-') || '|' ||
               COALESCE(md5(CAST(n_chars AS VARCHAR)), '-')
           ), 1, 15)) AS BIGINT)) AS DECIMAL(38,0)) AS VARCHAR) AS content_checksum
    FROM documents
    UNION ALL
    SELECT 'orders',
           CAST(COUNT(*) AS BIGINT),
           CAST(CAST(SUM(CAST(('0x' || substring(md5(
               COALESCE(md5(CAST(o_orderkey AS VARCHAR)), '-') || '|' ||
               COALESCE(md5(CAST(o_custkey AS VARCHAR)), '-') || '|' ||
               COALESCE(md5(o_orderstatus), '-') || '|' ||
               COALESCE(md5(strftime(o_orderdate, '%Y-%m-%d')), '-') || '|' ||
               COALESCE(md5(o_orderpriority), '-')
           ), 1, 15)) AS BIGINT)) AS DECIMAL(38,0)) AS VARCHAR)
    FROM orders
    ORDER BY table_name
"""


# Pruned incremental dedup: the calibrated-cutoff CTE chain computed
# over the CORPUS posting index (the engine calibrates on the same
# side), hot shingles dropped from BOTH posting sets, admission over
# the kept-shingle universe.
ORACLES["q_incremental_dedup_pruned"] = """
    WITH delta AS (
        SELECT * FROM documents WHERE doc_id % 5 = 0
    ), corpus AS (
        SELECT * FROM documents WHERE doc_id % 5 <> 0
    ), no_exact AS (
        SELECT d.* FROM delta d
        WHERE md5(lower(trim(d.text))) NOT IN
              (SELECT md5(lower(trim(text))) FROM corpus)
    ), dsh0 AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])) AS s
        FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
              FROM no_exact)
        WHERE len(t) >= 2
    ), csh0 AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])) AS s
        FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
              FROM corpus)
        WHERE len(t) >= 2
    ), dfreq AS (
        SELECT s, COUNT(*) AS df FROM csh0 GROUP BY s
    ), med AS (
        SELECT df AS m
        FROM (SELECT df, ROW_NUMBER() OVER (ORDER BY df) AS rk FROM dfreq),
             (SELECT COUNT(*) AS n FROM dfreq)
        WHERE rk = GREATEST(1, (5000 * n + 9999) // 10000)
    ), cut AS (
        SELECT GREATEST(8, (9000 * m) // 10000) AS c FROM med
    ), hot AS (
        SELECT s FROM dfreq, cut WHERE df > c
    ), dsh AS (
        SELECT * FROM dsh0 WHERE s NOT IN (SELECT s FROM hot)
    ), csh AS (
        SELECT * FROM csh0 WHERE s NOT IN (SELECT s FROM hot)
    ), dsz AS (SELECT doc_id, COUNT(*) AS n_d FROM dsh GROUP BY doc_id
    ), csz AS (SELECT doc_id, COUNT(*) AS n_c FROM csh GROUP BY doc_id
    ), inter AS (
        SELECT d.doc_id AS id_d, c.doc_id AS id_c, COUNT(*) AS n_inter
        FROM dsh d JOIN csh c ON d.s = c.s
        GROUP BY d.doc_id, c.doc_id
    ), rejected AS (
        SELECT DISTINCT id_d AS doc_id
        FROM inter
        JOIN dsz ON dsz.doc_id = id_d
        JOIN csz ON csz.doc_id = id_c
        WHERE FLOOR(n_inter / (n_d + n_c - n_inter) * 10000) / 10000 >= 0.5
    )
    SELECT doc_id, lang, source
    FROM no_exact
    WHERE doc_id NOT IN (SELECT doc_id FROM rejected)
    ORDER BY doc_id
"""


# q_cc_twostar: SAME edge set and SAME component contract as
# q_dedup_clusters_pruned (graph.two_star_components wraps
# dedup.cluster_duplicates) — the oracle is reused verbatim.
ORACLES["q_cc_twostar"] = ORACLES["q_dedup_clusters_pruned"]


# Verified load: the oracle recomputes the SOURCE checksum once and
# states it for both sides — hash-matching the engine's report proves
# the persisted parquet round-trip preserved the row multiset AND the
# canonicalization is cross-engine exact (verified must be true).
ORACLES["q_verified_load"] = """
    WITH ck AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(CAST(SUM(CAST(('0x' || substring(md5(
                   COALESCE(md5(CAST(o_orderkey AS VARCHAR)), '-') || '|' ||
                   COALESCE(md5(CAST(o_custkey AS VARCHAR)), '-') || '|' ||
                   COALESCE(md5(o_orderstatus), '-') || '|' ||
                   COALESCE(md5(strftime(o_orderdate, '%Y-%m-%d')), '-') || '|' ||
                   COALESCE(md5(o_orderpriority), '-')
               ), 1, 15)) AS BIGINT)) AS DECIMAL(38,0)) AS VARCHAR) AS c
        FROM orders
    )
    SELECT 'orders' AS table_name, n AS n_rows, c AS content_checksum,
           n AS loaded_rows, c AS loaded_checksum, TRUE AS verified
    FROM ck
"""


# Exact ROC-AUC: the oracle replays the tie-averaged Mann-Whitney rank
# algebra with window functions over per-distinct-score counts — the
# same integral 2·U the engine carries, so the final division of exact
# longs is bit-identical. One CTE chain serves all five one-vs-rest
# labels, like the engine's single pass.
ORACLES["q_roc_auc"] = """
    WITH base AS (
        SELECT CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS s, event_type
        FROM events
    ), grouped AS (
        SELECT s, COUNT(*) AS cnt,
               SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS p0,
               SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS p1,
               SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS p2,
               SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS p3,
               SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS p4
        FROM base GROUP BY s
    ), cum AS (
        SELECT cnt, p0, p1, p2, p3, p4,
               SUM(cnt) OVER w AS cc,
               SUM(p0) OVER w AS c0, SUM(p1) OVER w AS c1,
               SUM(p2) OVER w AS c2, SUM(p3) OVER w AS c3,
               SUM(p4) OVER w AS c4
        FROM grouped
        WINDOW w AS (ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW)
    ), agg AS (
        SELECT CAST(SUM(cnt) AS BIGINT) AS n,
               CAST(SUM(p0) AS BIGINT) AS np0,
               CAST(SUM(p1) AS BIGINT) AS np1,
               CAST(SUM(p2) AS BIGINT) AS np2,
               CAST(SUM(p3) AS BIGINT) AS np3,
               CAST(SUM(p4) AS BIGINT) AS np4,
               CAST(SUM(p0 * (2 * ((cc - cnt) - (c0 - p0)) + (cnt - p0))) AS BIGINT) AS u0,
               CAST(SUM(p1 * (2 * ((cc - cnt) - (c1 - p1)) + (cnt - p1))) AS BIGINT) AS u1,
               CAST(SUM(p2 * (2 * ((cc - cnt) - (c2 - p2)) + (cnt - p2))) AS BIGINT) AS u2_,
               CAST(SUM(p3 * (2 * ((cc - cnt) - (c3 - p3)) + (cnt - p3))) AS BIGINT) AS u3,
               CAST(SUM(p4 * (2 * ((cc - cnt) - (c4 - p4)) + (cnt - p4))) AS BIGINT) AS u4
        FROM cum
    )
    SELECT label, n_pos, n_neg, u2,
           CASE WHEN n_pos > 0 AND n_neg > 0
                THEN CAST(u2 AS DOUBLE) / CAST(2 * n_pos * n_neg AS DOUBLE)
           END AS auc
    FROM (
        SELECT 'click' AS label, np0 AS n_pos, n - np0 AS n_neg, u0 AS u2 FROM agg
        UNION ALL
        SELECT 'error', np1, n - np1, u1 FROM agg
        UNION ALL
        SELECT 'purchase', np2, n - np2, u2_ FROM agg
        UNION ALL
        SELECT 'signup', np3, n - np3, u3 FROM agg
        UNION ALL
        SELECT 'view', np4, n - np4, u4 FROM agg
    )
    ORDER BY label
"""


# Welch t-test: n / Σv / Σv² are exact integer sums; every derived
# double repeats the engine's expression tree verbatim (+,-,×,÷,sqrt
# are IEEE-correctly-rounded, so identical inputs give identical bits).
ORACLES["q_ab_ttest"] = """
    WITH p AS (
        SELECT CASE WHEN CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 8))
                         AS BIGINT) % 2 = 0
                    THEN 'A' ELSE 'B' END AS variant,
               CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
        FROM events WHERE event_type = 'purchase'
    ), agg AS (
        SELECT CAST(COUNT(CASE WHEN variant = 'A' THEN cents END) AS BIGINT) AS n_a,
               CAST(SUM(CASE WHEN variant = 'A' THEN cents END) AS BIGINT) AS sum_a,
               CAST(SUM(CASE WHEN variant = 'A' THEN cents * cents END) AS BIGINT) AS ss_a,
               CAST(COUNT(CASE WHEN variant = 'B' THEN cents END) AS BIGINT) AS n_b,
               CAST(SUM(CASE WHEN variant = 'B' THEN cents END) AS BIGINT) AS sum_b,
               CAST(SUM(CASE WHEN variant = 'B' THEN cents * cents END) AS BIGINT) AS ss_b
        FROM p
    ), derived AS (
        SELECT n_a, n_b, sum_a, sum_b,
               CAST(sum_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS mean_a,
               CAST(sum_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS mean_b,
               (CAST(ss_a AS DOUBLE) - CAST(sum_a AS DOUBLE) * CAST(sum_a AS DOUBLE)
                    / CAST(n_a AS DOUBLE)) / (CAST(n_a AS DOUBLE) - 1.0) AS var_a,
               (CAST(ss_b AS DOUBLE) - CAST(sum_b AS DOUBLE) * CAST(sum_b AS DOUBLE)
                    / CAST(n_b AS DOUBLE)) / (CAST(n_b AS DOUBLE) - 1.0) AS var_b
        FROM agg
    )
    SELECT n_a, n_b, sum_a, sum_b,
           CASE WHEN n_a >= 1 THEN mean_a END AS mean_a,
           CASE WHEN n_b >= 1 THEN mean_b END AS mean_b,
           CASE WHEN n_a >= 2 AND n_b >= 2 THEN var_a END AS var_a,
           CASE WHEN n_a >= 2 AND n_b >= 2 THEN var_b END AS var_b,
           CASE WHEN n_a >= 2 AND n_b >= 2
                 AND var_a / CAST(n_a AS DOUBLE) + var_b / CAST(n_b AS DOUBLE) > 0 THEN
               (mean_a - mean_b)
                   / sqrt(var_a / CAST(n_a AS DOUBLE) + var_b / CAST(n_b AS DOUBLE))
           END AS t_stat,
           CASE WHEN n_a >= 2 AND n_b >= 2
                 AND var_a / CAST(n_a AS DOUBLE) + var_b / CAST(n_b AS DOUBLE) > 0 THEN
               ((var_a / CAST(n_a AS DOUBLE) + var_b / CAST(n_b AS DOUBLE))
                * (var_a / CAST(n_a AS DOUBLE) + var_b / CAST(n_b AS DOUBLE)))
               / ((var_a / CAST(n_a AS DOUBLE)) * (var_a / CAST(n_a AS DOUBLE))
                      / (CAST(n_a AS DOUBLE) - 1.0)
                  + (var_b / CAST(n_b AS DOUBLE)) * (var_b / CAST(n_b AS DOUBLE))
                      / (CAST(n_b AS DOUBLE) - 1.0))
           END AS dof
    FROM derived
"""


# Threshold sweep: exact confusion longs per literal threshold; every
# ratio is a single division of exact longs (F1 in the single-division
# 2·tp/(2·tp+fp+fn) form, no compounding of rounded ratios).
ORACLES["q_threshold_metrics"] = """
    WITH d AS (
        SELECT CAST(FLOOR(10000 * length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                          / length(text)) AS BIGINT) AS score,
               CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        FROM documents
    ), g AS (
        SELECT CAST(unnest([8150, 8200, 8250, 8300]) AS BIGINT) AS threshold
    ), agg AS (
        SELECT threshold,
               CAST(SUM(CASE WHEN score >= threshold THEN y ELSE 0 END) AS BIGINT) AS tp,
               CAST(SUM(CASE WHEN score >= threshold THEN 1 - y ELSE 0 END) AS BIGINT) AS fp,
               CAST(SUM(CASE WHEN score < threshold THEN y ELSE 0 END) AS BIGINT) AS fn,
               CAST(SUM(CASE WHEN score < threshold THEN 1 - y ELSE 0 END) AS BIGINT) AS tn
        FROM d CROSS JOIN g GROUP BY threshold
    )
    SELECT threshold, tp, fp, fn, tn,
           CASE WHEN tp + fp > 0
                THEN CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) END AS precision,
           CASE WHEN tp + fn > 0
                THEN CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) END AS recall,
           CASE WHEN 2 * tp + fp + fn > 0
                THEN CAST(2 * tp AS DOUBLE) / CAST(2 * tp + fp + fn AS DOUBLE) END AS f1
    FROM agg ORDER BY threshold
"""


# Video scene stats: synth_video's pixels are the closed form
# p = ((doc_id·31 + n_chars) % 997 + (f+1)·(7·i+13)) % 251, so the
# oracle regenerates every frame-pair pixel delta from the documents
# table directly — hash-matching proves the engine's TVID parse + BMP
# decode + numpy deltas reproduced the encoded pixels exactly.
ORACLES["q_video_scenes"] = """
    WITH px AS (
        SELECT d.doc_id, f.f,
               ((d.doc_id * 31 + d.n_chars) % 997 + (f.f + 1) * (7 * i.i + 13)) % 251 AS p0,
               ((d.doc_id * 31 + d.n_chars) % 997 + (f.f + 2) * (7 * i.i + 13)) % 251 AS p1
        FROM documents d
        CROSS JOIN (SELECT unnest(range(0, 5)) AS f) f
        CROSS JOIN (SELECT unnest(range(0, 256)) AS i) i
    ), motion AS (
        SELECT doc_id, f, CAST(SUM(ABS(p1 - p0)) AS BIGINT) AS diff_sum
        FROM px GROUP BY doc_id, f
    )
    SELECT doc_id AS asset_id,
           CAST(6 AS INTEGER) AS n_frames,
           CAST(SUM(diff_sum) AS BIGINT) AS total_motion,
           CAST(COUNT(*) FILTER (WHERE diff_sum > 21000) AS INTEGER) AS n_cuts,
           CAST(MAX(diff_sum) AS BIGINT) AS max_diff
    FROM motion GROUP BY doc_id ORDER BY asset_id
"""


# Spearman: the oracle rebuilds the same integral r2 = 2·below + cnt + 1
# rank maps with window functions over per-(group, value) counts, then
# the identical Pearson-on-ranks double tree over exact long moments.
ORACLES["q_spearman_drift"] = """
    WITH base AS (
        SELECT event_type AS g,
               CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS x,
               epoch_us(ts) // 3600000000 AS y
        FROM events
    ), xm AS (
        SELECT g, x,
               2 * (SUM(cnt) OVER (PARTITION BY g ORDER BY x
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    - cnt) + cnt + 1 AS rx
        FROM (SELECT g, x, COUNT(*) AS cnt FROM base GROUP BY g, x)
    ), ym AS (
        SELECT g, y,
               2 * (SUM(cnt) OVER (PARTITION BY g ORDER BY y
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    - cnt) + cnt + 1 AS ry
        FROM (SELECT g, y, COUNT(*) AS cnt FROM base GROUP BY g, y)
    ), j AS (
        SELECT base.g, rx, ry
        FROM base JOIN xm USING (g, x) JOIN ym USING (g, y)
    ), agg AS (
        SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(rx) AS BIGINT) AS sx,
               CAST(SUM(ry) AS BIGINT) AS sy,
               CAST(SUM(rx * ry) AS BIGINT) AS sxy,
               CAST(SUM(rx * rx) AS BIGINT) AS sxx,
               CAST(SUM(ry * ry) AS BIGINT) AS syy
        FROM j GROUP BY g
    )
    SELECT g AS event_type, n,
           CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
                 AND CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                         - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0
                THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                        * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                                 - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
           END AS rho
    FROM agg ORDER BY event_type
"""


# Cohen's kappa: single-division integer form — engine and oracle divide
# the same two exact longs (n·agree − E over n² − E).
ORACLES["q_cohens_kappa"] = """
    WITH d AS (
        SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS a,
               CASE WHEN FLOOR(10000 * length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                                / length(text)) >= 8200 THEN 1 ELSE 0 END AS b
        FROM documents
    ), c AS (
        SELECT CAST(SUM(a * b) AS BIGINT) AS n11,
               CAST(SUM(a * (1 - b)) AS BIGINT) AS n10,
               CAST(SUM((1 - a) * b) AS BIGINT) AS n01,
               CAST(SUM((1 - a) * (1 - b)) AS BIGINT) AS n00
        FROM d
    )
    SELECT n11, n10, n01, n00,
           CAST(n11 + n00 AS DOUBLE)
               / CAST(n11 + n10 + n01 + n00 AS DOUBLE) AS po,
           CAST((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00) AS DOUBLE)
               / CAST((n11 + n10 + n01 + n00) * (n11 + n10 + n01 + n00) AS DOUBLE) AS pe,
           CASE WHEN (n11 + n10 + n01 + n00) * (n11 + n10 + n01 + n00)
                     - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)) > 0
                THEN CAST((n11 + n10 + n01 + n00) * (n11 + n00)
                          - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00))
                          AS DOUBLE)
                     / CAST((n11 + n10 + n01 + n00) * (n11 + n10 + n01 + n00)
                            - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00))
                            AS DOUBLE)
           END AS kappa
    FROM c
"""


# Poisson bootstrap: the oracle draws the IDENTICAL md5-uniform →
# quantized-Poisson(1)-CDF weights (literal ladder = POISSON1_CDF_BP),
# replays the 64 weighted replicate means, and picks the same discrete
# rank statistics — resampling is deterministic, so a bootstrap is
# hash-checkable.
ORACLES["q_bootstrap_ci"] = """
    WITH p AS (
        SELECT CAST(event_id AS VARCHAR) AS id,
               CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS x
        FROM events WHERE event_type = 'purchase'
    ), fan AS (
        SELECT id, x, r.rep,
               CAST(('0x' || substring(md5(id || ':' || CAST(r.rep AS VARCHAR)), 1, 8))
                    AS BIGINT) % 10000 AS u
        FROM p CROSS JOIN (SELECT unnest(range(0, 64)) AS rep) r
    ), w AS (
        SELECT rep, x,
               CASE WHEN u < 3678 THEN 0 WHEN u < 7357 THEN 1
                    WHEN u < 9196 THEN 2 WHEN u < 9810 THEN 3
                    WHEN u < 9963 THEN 4 WHEN u < 9994 THEN 5
                    WHEN u < 9999 THEN 6 ELSE 7 END AS wt
        FROM fan
    ), per_rep AS (
        SELECT rep, CAST(SUM(wt) AS BIGINT) AS n_eff,
               CAST(SUM(wt * x) AS BIGINT) AS s
        FROM w GROUP BY rep
    ), means AS (
        SELECT rep,
               CASE WHEN n_eff > 0
                    THEN CAST(s AS DOUBLE) / CAST(n_eff AS DOUBLE) END AS m
        FROM per_rep
    ), ranked AS (
        SELECT m, ROW_NUMBER() OVER (ORDER BY m, rep) AS rn FROM means
    ), ci AS (
        SELECT MAX(CASE WHEN rn = 2 THEN m END) AS ci_lo,
               MAX(CASE WHEN rn = 63 THEN m END) AS ci_hi,
               CAST(COUNT(*) AS BIGINT) AS n_replicates
        FROM ranked
    ), pt AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS point_mean
        FROM p
    )
    SELECT n, point_mean, ci_lo, ci_hi, n_replicates FROM pt CROSS JOIN ci
"""


# Image resize: floor-sampling nearest-neighbor over closed-form pixels —
# the resized pixel at (r, c) is source index 32r + 2c of the synth_image
# formula, so the oracle regenerates the resized image and the weighted
# checksum verifies the decode→resize→re-encode→decode chain exactly.
ORACLES["q_image_resize"] = """
    WITH px AS (
        SELECT d.doc_id,
               r.r * 8 + c.c + 1 AS wgt,
               ((d.doc_id * 31 + d.n_chars) % 997
                    + 7 * (32 * r.r + 2 * c.c) + 13) % 251 AS p
        FROM documents d
        CROSS JOIN (SELECT unnest(range(0, 8)) AS r) r
        CROSS JOIN (SELECT unnest(range(0, 8)) AS c) c
    )
    SELECT doc_id AS asset_id,
           CAST(8 AS INTEGER) AS width,
           CAST(8 AS INTEGER) AS height,
           CAST(SUM(wgt * p) AS BIGINT) AS px_checksum
    FROM px GROUP BY doc_id ORDER BY asset_id
"""


# Calibration bins: exact long sums per fixed-width score bin, two
# single divisions — the reliability-diagram readout.
ORACLES["q_calibration_bins"] = """
    WITH d AS (
        SELECT CAST(FLOOR(10000 * length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                          / length(text)) AS BIGINT) AS score,
               CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        FROM documents
    ), agg AS (
        SELECT CAST(FLOOR(score / 50) * 50 AS BIGINT) AS bin_lo,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(score) AS BIGINT) AS sum_s,
               CAST(SUM(y) AS BIGINT) AS pos
        FROM d GROUP BY 1
    )
    SELECT bin_lo, n,
           CAST(sum_s AS DOUBLE) / CAST(n AS DOUBLE) AS mean_score,
           CAST(pos AS DOUBLE) / CAST(n AS DOUBLE) AS pos_rate
    FROM agg ORDER BY bin_lo
"""


# Triangle counting, degree-oriented: the SAME (degree, id) orientation
# and wedge-close join the Spark operator runs — struct/tuple comparison
# is lexicographic in both engines; all-integer output.
ORACLES["q_triangle_count"] = """
    WITH s AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    edges AS (
        SELECT DISTINCT a.l_partkey AS lo, b.l_partkey AS hi
        FROM s a JOIN s b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    deg AS (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS degree FROM (
            SELECT lo AS node FROM edges
            UNION ALL SELECT hi FROM edges
        ) GROUP BY node
    ),
    oriented AS (
        SELECT CASE WHEN (dl.degree, e.lo) < (dh.degree, e.hi)
                    THEN e.lo ELSE e.hi END AS u,
               CASE WHEN (dl.degree, e.lo) < (dh.degree, e.hi)
                    THEN e.hi ELSE e.lo END AS v
        FROM edges e
        JOIN deg dl ON dl.node = e.lo
        JOIN deg dh ON dh.node = e.hi
    ),
    wedges AS (
        SELECT o1.u AS a, o1.v AS b, o2.v AS c
        FROM oriented o1 JOIN oriented o2
          ON o1.u = o2.u AND o1.v < o2.v
    ),
    tris AS (
        SELECT w.a, w.b, w.c FROM wedges w
        JOIN edges e ON e.lo = LEAST(w.b, w.c) AND e.hi = GREATEST(w.b, w.c)
    ),
    node_tri AS (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS triangles FROM (
            SELECT a AS node FROM tris
            UNION ALL SELECT b FROM tris
            UNION ALL SELECT c FROM tris
        ) GROUP BY node
    )
    SELECT deg.node AS part, deg.degree,
           CAST(COALESCE(nt.triangles, 0) AS BIGINT) AS triangles,
           CASE WHEN deg.degree >= 2
                THEN (20000 * COALESCE(nt.triangles, 0))
                     // (deg.degree * (deg.degree - 1))
                ELSE 0 END AS coeff_bp
    FROM deg LEFT JOIN node_tri nt ON nt.node = deg.node
    ORDER BY part
"""

# Weighted shortest paths: the cap (<= 60) makes the recursive path-sum
# closure finite, so UNION-dedup enumeration terminates; MIN per node of
# every enumerated sum equals the fixpoint distance (sums only ever
# exceed the true minimum, and every true distance is under the cap).
ORACLES["q_shortest_paths"] = """
    WITH s AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
    pairs AS (
        SELECT a.l_suppkey AS lo, b.l_suppkey AS hi,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM s a JOIN s b
          ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
        GROUP BY 1, 2
    ),
    edges AS (
        SELECT lo AS src, hi AS dst, 1 + (cnt % 29) AS w FROM pairs
        UNION ALL
        SELECT hi, lo, 1 + (cnt % 29) FROM pairs
    ),
    seed AS (SELECT MIN(src) AS node FROM edges),
    walk AS (
        WITH RECURSIVE r(node, dist) AS (
            SELECT node, CAST(0 AS BIGINT) FROM seed
            UNION
            SELECT e.dst, r.dist + e.w FROM r JOIN edges e ON e.src = r.node
            WHERE r.dist + e.w <= 60
        )
        SELECT node, MIN(dist) AS dist FROM r GROUP BY node
    )
    SELECT node AS supplier, CAST(dist AS BIGINT) AS dist_w
    FROM walk ORDER BY supplier
"""

# Kaplan-Meier: exact-long risk sets; the survival product replays the
# SAME ascending-t left fold (list_reduce seeds from the first element,
# matching Spark's aggregate(slice(...), element_at(..., 1), *)) so
# every prefix product is bit-identical (CLAUDE.md float contract).
ORACLES["q_kaplan_meier"] = """
    WITH bounds AS (SELECT epoch_us(MAX(ts)) AS end_us FROM events),
    gaps AS (
        SELECT CASE WHEN nxt IS NOT NULL THEN (nxt - us) // 3600000000
                    ELSE ((SELECT end_us FROM bounds) - us) // 3600000000
               END AS dur,
               CASE WHEN nxt IS NOT NULL THEN 1 ELSE 0 END AS ev
        FROM (
            SELECT epoch_us(ts) AS us,
                   LEAD(epoch_us(ts), 1) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id) AS nxt
            FROM events
        )
    ),
    per_t AS (
        SELECT dur AS t, CAST(SUM(ev) AS BIGINT) AS d,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM gaps GROUP BY dur
    ),
    risk AS (
        SELECT t, d,
               CAST(SUM(c) OVER (ORDER BY t DESC
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS BIGINT) AS n
        FROM per_t
    ),
    packed AS (
        SELECT list(t ORDER BY t) AS ts_,
               list(d ORDER BY t) AS ds,
               list(n ORDER BY t) AS ns,
               list(1.0 - CAST(d AS DOUBLE) / CAST(n AS DOUBLE)
                    ORDER BY t) AS fs
        FROM risk WHERE d > 0
    )
    SELECT ts_[i] AS t, ns[i] AS n_risk, ds[i] AS d_events,
           list_reduce(fs[1:i], (a, b) -> a * b) AS survival
    FROM packed, (SELECT unnest(range(1, 1 + len(ts_))) AS i FROM packed)
    ORDER BY t
"""

# Benford audit: exact integer first-digit counts on cents; expected
# shares are hardcoded floor(log10(1+1/d)*1e4) literals on both sides.
ORACLES["q_benford_digits"] = """
    WITH d AS (
        SELECT CAST(substring(CAST(CAST(FLOOR(o_totalprice * 100) AS BIGINT)
                                   AS VARCHAR), 1, 1) AS INTEGER) AS digit
        FROM orders
    ),
    counts AS (
        SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM d GROUP BY digit
    ),
    exp_t AS (
        SELECT * FROM (VALUES (1, 3010), (2, 1760), (3, 1249), (4, 969),
                              (5, 791), (6, 669), (7, 579), (8, 511),
                              (9, 457)) AS t(digit, exp_bp)
    )
    SELECT c.digit, c.n,
           CAST((c.n * 10000) // (SELECT SUM(n) FROM counts) AS BIGINT)
               AS obs_bp,
           CAST(e.exp_bp AS BIGINT) AS exp_bp,
           CAST((c.n * 10000) // (SELECT SUM(n) FROM counts)
                - e.exp_bp AS BIGINT) AS dev_bp
    FROM counts c JOIN exp_t e USING (digit)
    ORDER BY c.digit
"""


# Seasonal decomposition: integer centi-cents throughout; the centered
# 7-day frame and the per-dow floor-divided means replay exactly.
# dayofweek parity: DuckDB 0=Sunday -> +1 to match Spark.
ORACLES["q_seasonal_decompose"] = """
    WITH daily AS (
        SELECT event_type, date_trunc('day', ts) AS day,
               CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS cents
        FROM events GROUP BY 1, 2
    ),
    trended AS (
        SELECT event_type, day, cents,
               CAST(SUM(cents) OVER w AS BIGINT) AS sum7,
               COUNT(*) OVER w AS n7
        FROM daily
        WINDOW w AS (PARTITION BY event_type ORDER BY day
                     ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ),
    detr AS (
        SELECT event_type, day,
               cents * 100 AS obs_cc,
               (sum7 * 100) // 7 AS trend_cc,
               CAST(dayofweek(day) + 1 AS INTEGER) AS dow,
               cents * 100 - (sum7 * 100) // 7 AS resid
        FROM trended WHERE n7 = 7
    ),
    seas AS (
        SELECT event_type, dow, SUM(resid) // COUNT(*) AS seasonal_cc
        FROM detr GROUP BY 1, 2
    )
    SELECT d.event_type, CAST(d.day AS DATE) AS day, d.dow,
           CAST(d.obs_cc AS BIGINT) AS obs_cc,
           CAST(d.trend_cc AS BIGINT) AS trend_cc,
           CAST(s.seasonal_cc AS BIGINT) AS seasonal_cc,
           CAST(d.resid - s.seasonal_cc AS BIGINT) AS residual_cc
    FROM detr d JOIN seas s USING (event_type, dow)
    ORDER BY d.event_type, d.day
"""

# Isotonic calibration: the same micro-unit-quantized minimax closed
# form over the O(k^3) interval grid — every comparison is on exact
# longs, so max-of-min replays bit-for-bit.
ORACLES["q_isotonic_calibration"] = """
    WITH bins AS (
        SELECT CAST(FLOOR(FLOOR(10000 * length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                                / length(text)) / 100) * 100 AS BIGINT) AS bin_lo,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS pos
        FROM documents GROUP BY 1
    ),
    idx AS (
        SELECT bin_lo, n, pos,
               ROW_NUMBER() OVER (ORDER BY bin_lo) AS i,
               SUM(n) OVER (ORDER BY bin_lo) AS cn,
               SUM(pos) OVER (ORDER BY bin_lo) AS cp
        FROM bins
    ),
    intervals AS (
        SELECT lo.i AS j, hi.i AS l,
               ((hi.cp - (lo.cp - lo.pos)) * 1000000)
                   // (hi.cn - (lo.cn - lo.n)) AS q
        FROM idx lo JOIN idx hi ON lo.i <= hi.i
    ),
    iso AS (
        SELECT b.i, b.bin_lo, b.n, b.pos, MAX(minq) AS iso_micro
        FROM idx b
        JOIN (
            SELECT iv.j, b2.i, MIN(iv.q) AS minq
            FROM idx b2 JOIN intervals iv ON iv.j <= b2.i AND iv.l >= b2.i
            GROUP BY iv.j, b2.i
        ) m ON m.i = b.i AND m.j <= b.i
        GROUP BY b.i, b.bin_lo, b.n, b.pos
    )
    SELECT bin_lo, n,
           CAST((pos * 1000000) // n AS BIGINT) AS raw_micro,
           CAST(iso_micro AS BIGINT) AS iso_micro
    FROM iso ORDER BY bin_lo
"""


# Chi-square independence: zero cells from the marginal cross; per-cell
# statistic over exact longs with the verbatim double expression tree
# ((num*num)/denom)*1e6, floor-quantized before the exact integer total.
ORACLES["q_chi2_drift"] = """
    WITH cells AS (
        SELECT source AS row_key, lang AS col_key,
               CAST(COUNT(*) AS BIGINT) AS o
        FROM documents
        WHERE source IS NOT NULL AND lang IS NOT NULL
        GROUP BY 1, 2
    ),
    rows_m AS (SELECT row_key, CAST(SUM(o) AS BIGINT) AS rt FROM cells GROUP BY 1),
    cols_m AS (SELECT col_key, CAST(SUM(o) AS BIGINT) AS ct FROM cells GROUP BY 1),
    full_g AS (
        SELECT r.row_key, c.col_key, COALESCE(x.o, 0) AS o, r.rt, c.ct
        FROM rows_m r CROSS JOIN cols_m c
        LEFT JOIN cells x ON x.row_key = r.row_key AND x.col_key = c.col_key
    ),
    tot AS (SELECT CAST(SUM(o) AS BIGINT) AS g FROM full_g),
    scored AS (
        SELECT row_key, col_key, CAST(o AS BIGINT) AS o,
               CAST(FLOOR(
                   (CAST(o AS DOUBLE) * CAST(g AS DOUBLE)
                    - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE))
                   * (CAST(o AS DOUBLE) * CAST(g AS DOUBLE)
                      - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE))
                   / (CAST(g AS DOUBLE) * CAST(rt AS DOUBLE)
                      * CAST(ct AS DOUBLE))
                   * 1000000.0) AS BIGINT) AS contrib_micro
        FROM full_g, tot
    )
    SELECT row_key, col_key, o, contrib_micro,
           CAST((SELECT SUM(contrib_micro) FROM scored) AS BIGINT) AS chi2_micro,
           CAST(((SELECT COUNT(*) FROM rows_m) - 1)
                * ((SELECT COUNT(*) FROM cols_m) - 1) AS BIGINT) AS dof
    FROM scored
    ORDER BY row_key, col_key
"""


# Markov removal-effect attribution: the 12-round integer value
# iteration replayed as unrolled CTEs (the q_textrank pattern); journey
# build, scenario redirect and share division mirror queries.py exactly.
_ATT_ROUND = """
    p{r} AS MATERIALIZED (
        SELECT n.scenario, n.node,
               CAST(CASE WHEN n.node = 'CONV' THEN 1000000000
                         WHEN n.node = 'NULL' THEN 0
                         ELSE COALESCE(u.p, 0) END AS BIGINT) AS p
        FROM nodes n LEFT JOIN (
            SELECT e.scenario, e.src AS node, SUM(e.cnt * q.p) // e.tot AS p
            FROM edges e JOIN p{r0} q
              ON q.scenario = e.scenario AND q.node = e.dst
            GROUP BY e.scenario, e.src, e.tot
        ) u ON u.scenario = n.scenario AND u.node = n.node
    )"""

ORACLES["q_markov_attribution"] = (
    """
    WITH seq AS (
        SELECT user_id,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn,
               CASE WHEN event_type = 'purchase' THEN 'CONV'
                    ELSE event_type END AS state
        FROM events
    ), kept AS (
        SELECT user_id, rn, state FROM (
            SELECT user_id, rn, state,
                   MIN(CASE WHEN state = 'CONV' THEN rn END)
                       OVER (PARTITION BY user_id) AS fc
            FROM seq)
        WHERE fc IS NULL OR rn <= fc
    ), steps AS (
        SELECT user_id, rn, state AS src,
               LEAD(state, 1) OVER (PARTITION BY user_id ORDER BY rn) AS nxt
        FROM kept
    ), base AS (
        SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
            SELECT 'START' AS src, src AS dst FROM steps WHERE rn = 1
            UNION ALL
            SELECT src, COALESCE(nxt, 'NULL') AS dst FROM steps
            WHERE nxt IS NOT NULL OR src <> 'CONV'
        ) GROUP BY 1, 2
    ), channels AS (
        SELECT DISTINCT ch FROM (
            SELECT src AS ch FROM base UNION ALL SELECT dst FROM base)
        WHERE ch NOT IN ('START', 'CONV', 'NULL')
    ), scenarios AS (
        SELECT ch AS scenario FROM channels UNION ALL SELECT 'FULL'
    ), sedges AS MATERIALIZED (
        SELECT scenario, src, dst, CAST(SUM(cnt) AS BIGINT) AS cnt FROM (
            SELECT s.scenario, b.src,
                   CASE WHEN s.scenario <> 'FULL' AND b.dst = s.scenario
                        THEN 'NULL' ELSE b.dst END AS dst,
                   b.cnt
            FROM scenarios s CROSS JOIN base b
        ) GROUP BY 1, 2, 3
    ), tot AS (
        SELECT scenario, src, CAST(SUM(cnt) AS BIGINT) AS tot
        FROM sedges GROUP BY 1, 2
    ), edges AS MATERIALIZED (
        SELECT e.scenario, e.src, e.dst, e.cnt, t.tot
        FROM sedges e JOIN tot t
          ON t.scenario = e.scenario AND t.src = e.src
    ), nodes AS MATERIALIZED (
        SELECT DISTINCT scenario, node FROM (
            SELECT scenario, src AS node FROM sedges
            UNION ALL SELECT scenario, dst FROM sedges)
    ), p0 AS (
        SELECT scenario, node,
               CAST(CASE WHEN node = 'CONV' THEN 1000000000
                         ELSE 0 END AS BIGINT) AS p
        FROM nodes
    ),"""
    + ",".join(
        _ATT_ROUND.format(r=r, r0=r - 1) for r in range(1, 13)
    )
    + """,
    eff AS (
        SELECT p.scenario AS channel,
               (SELECT p FROM p12
                WHERE scenario = 'FULL' AND node = 'START') AS p_full,
               p.p AS p_removed
        FROM p12 p WHERE p.node = 'START' AND p.scenario <> 'FULL'
    )
    SELECT channel,
           CAST(p_full AS BIGINT) AS p_full_nano,
           CAST(p_removed AS BIGINT) AS p_removed_nano,
           CAST(p_full - p_removed AS BIGINT) AS removal_nano,
           CAST(CASE WHEN (SELECT SUM(p_full - p_removed) FROM eff) > 0
                     THEN ((p_full - p_removed) * 10000)
                          // (SELECT SUM(p_full - p_removed) FROM eff)
                     ELSE 0 END AS BIGINT) AS share_bp
    FROM eff ORDER BY channel
"""
)


# Time travel: each snapshot's row multiset recomputed straight from
# the corpus — proves the manifest read returned exactly the commits.
ORACLES["q_time_travel"] = """
    SELECT * FROM (
        SELECT CAST(1 AS INTEGER) AS version,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS total_cents,
               CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS n_statuses
        FROM orders WHERE o_orderstatus = 'F'
        UNION ALL
        SELECT CAST(2 AS INTEGER),
               CAST(COUNT(*) AS BIGINT),
               CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT),
               CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT)
        FROM orders WHERE o_orderstatus IN ('F', 'O')
    ) ORDER BY version
"""

# Holt double-exponential: the same fold with a 2-element LIST
# accumulator [s, b] — NOT a struct: DuckDB 1.0 struct literals inside
# list_reduce evaluate later fields against the NEW value of earlier
# fields (the lateral alias-shadowing class, found here: {'s': f(acc),
# 'b': acc.s} reads the fresh s), which silently corrupts any
# two-state fold. Lists index positionally and are immune. Elements
# lifted to [c, 0] so seed-from-first IS the init state; FLOOR(x/2.0)
# on both sides (negative trends: div vs // diverge).
ORACLES["q_holt_winters"] = """
    WITH daily AS (
        SELECT event_type, date_trunc('day', ts) AS day,
               CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS cents
        FROM events GROUP BY 1, 2
    ), g AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
               list(cents ORDER BY day) AS cs
        FROM daily GROUP BY event_type
    ), f AS (
        SELECT event_type, n_days,
               list_reduce(
                   list_transform(cs, c -> [c, CAST(0 AS BIGINT)]),
                   (acc, x) -> [
                       CAST(FLOOR((x[1] + acc[1] + acc[2]) / 2.0) AS BIGINT),
                       CAST(FLOOR((CAST(FLOOR((x[1] + acc[1] + acc[2]) / 2.0)
                                         AS BIGINT)
                                   - acc[1] + acc[2]) / 2.0) AS BIGINT)
                   ]) AS hw
        FROM g
    )
    SELECT event_type, n_days,
           CAST(hw[1] AS BIGINT) AS level_cents,
           CAST(hw[2] AS BIGINT) AS trend_cents,
           CAST(hw[1] + hw[2] AS BIGINT) AS forecast_cents
    FROM f ORDER BY event_type
"""


# Gini: DuckDB SUM is HUGEINT already — the same exact integer closed
# form Spark computes in DECIMAL(38,0); ROW_NUMBER mirrors the
# two-phase global rank's (cents, custkey) total order.
ORACLES["q_gini_concentration"] = """
    WITH pc AS (
        SELECT o_custkey,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM orders GROUP BY 1
    ), r AS (
        SELECT cents,
               ROW_NUMBER() OVER (ORDER BY cents, o_custkey) AS rn,
               COUNT(*) OVER () AS n
        FROM pc
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n_customers,
           CAST(SUM(cents) AS BIGINT) AS total_cents,
           CAST(((2 * SUM(rn * cents) - (MAX(n) + 1) * SUM(cents)) * 1000000)
                // (MAX(n) * SUM(cents)) AS BIGINT) AS gini_micro,
           CAST((SUM(CASE WHEN rn > n - (n // 10) THEN cents ELSE 0 END)
                 * 10000) // SUM(cents) AS BIGINT) AS top_decile_share_bp
    FROM r
"""

# CUSUM: the n-scaled prefix sum S_k = Σ n·x − k·T as exact longs;
# argmax via the same (|S| DESC, day ASC) rank-1 rule.
ORACLES["q_cusum_changepoint"] = """
    WITH daily AS (
        SELECT event_type, date_trunc('day', ts) AS day,
               CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS cents
        FROM events GROUP BY 1, 2
    ), base AS (
        SELECT event_type, day, cents,
               CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
               CAST(SUM(cents) OVER (PARTITION BY event_type) AS BIGINT) AS t
        FROM daily
    ), sc AS (
        SELECT event_type, day, n,
               CAST(SUM(cents * n) OVER (PARTITION BY event_type ORDER BY day
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    - (ROW_NUMBER() OVER (PARTITION BY event_type
                                          ORDER BY day)) * t AS BIGINT) AS s
        FROM base
    )
    SELECT event_type, n AS n_days, CAST(day AS DATE) AS cp_day,
           s AS s_at_cp,
           CASE WHEN s < 0 THEN 'up' ELSE 'down' END AS direction
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                                     ORDER BY abs(s) DESC, day) AS r
        FROM sc
    ) WHERE r = 1 ORDER BY event_type
"""

# Snapshot diff: both snapshot predicates recomputed from the corpus;
# the classifier mirrors operators/merge.changed_rows_detail.
ORACLES["q_snapshot_diff"] = """
    WITH o AS (
        SELECT o_orderkey,
               CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    ), v1 AS (
        SELECT * FROM o WHERE o_orderkey % 3 < 2
    ), v2 AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 5 = 0 THEN cents + 100
                    ELSE cents END AS cents
        FROM o WHERE o_orderkey % 3 > 0
    ), d AS (
        SELECT CASE WHEN a.o_orderkey IS NOT NULL AND b.o_orderkey IS NULL
                    THEN 'removed'
                    WHEN a.o_orderkey IS NULL AND b.o_orderkey IS NOT NULL
                    THEN 'added'
                    WHEN a.cents IS DISTINCT FROM b.cents
                    THEN 'updated' END AS change_type,
               a.cents AS old_cents, b.cents AS new_cents
        FROM v1 a FULL JOIN v2 b ON a.o_orderkey = b.o_orderkey
    )
    SELECT change_type, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(COALESCE(new_cents, 0) - COALESCE(old_cents, 0))
                AS BIGINT) AS cents_delta
    FROM d WHERE change_type IS NOT NULL
    GROUP BY 1 ORDER BY 1
"""


# RFM: three ROW_NUMBER total orders + the shared quartile formula
# ((rn-1)*4)//n + 1 — explicit, not ntile, so both engines agree by
# construction; mean spend floor-divided.
ORACLES["q_rfm_segments"] = """
    WITH pc AS (
        SELECT o_custkey,
               CAST(date_diff('day', MAX(CAST(o_orderdate AS DATE)),
                    (SELECT MAX(CAST(o_orderdate AS DATE)) FROM orders))
                    AS BIGINT) AS rec,
               CAST(COUNT(*) AS BIGINT) AS freq,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM orders GROUP BY 1
    ), coded AS (
        SELECT o_custkey, cents,
               ((ROW_NUMBER() OVER (ORDER BY rec, o_custkey) - 1) * 4)
                   // (COUNT(*) OVER ()) + 1 AS r_q,
               ((ROW_NUMBER() OVER (ORDER BY freq, o_custkey) - 1) * 4)
                   // (COUNT(*) OVER ()) + 1 AS f_q,
               ((ROW_NUMBER() OVER (ORDER BY cents, o_custkey) - 1) * 4)
                   // (COUNT(*) OVER ()) + 1 AS m_q
        FROM pc
    )
    SELECT CAST(r_q AS INTEGER) AS r_q, CAST(f_q AS INTEGER) AS f_q,
           CAST(m_q AS INTEGER) AS m_q,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(cents) // COUNT(*) AS BIGINT) AS mean_cents
    FROM coded GROUP BY 1, 2, 3
    ORDER BY r_q, f_q, m_q
"""


# Cohort LTV triangle: exact month-index ages, cumulative cents per
# cohort, floor-divided per-customer LTV; cohort month rebuilt from the
# index the same way on both sides.
ORACLES["q_cohort_ltv"] = """
    WITH o AS (
        SELECT o_custkey,
               year(o_orderdate) * 12 + month(o_orderdate) AS m,
               CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    ), firsts AS (
        SELECT o_custkey, MIN(m) AS cm FROM o GROUP BY 1
    ), sized AS (
        SELECT cm, CAST(COUNT(*) AS BIGINT) AS csize FROM firsts GROUP BY 1
    ), cells AS (
        SELECT f.cm, o.m - f.cm AS age_m,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(o.cents) AS BIGINT) AS cell_cents
        FROM o JOIN firsts f USING (o_custkey)
        GROUP BY 1, 2
    ), cum AS (
        SELECT cm, age_m, n_orders,
               CAST(SUM(cell_cents) OVER (PARTITION BY cm ORDER BY age_m
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum_cents
        FROM cells
    )
    SELECT CAST(strptime(
               CAST((cm - 1) // 12 AS VARCHAR) || '-' ||
               lpad(CAST((cm - 1) % 12 + 1 AS VARCHAR), 2, '0') || '-01',
               '%Y-%m-%d') AS DATE) AS cohort_month,
           CAST(age_m AS INTEGER) AS age_m,
           n_orders, cum_cents,
           s.csize AS cohort_customers,
           CAST(cum_cents // s.csize AS BIGINT) AS ltv_per_cust_cents
    FROM cum JOIN sized s USING (cm)
    ORDER BY cohort_month, age_m
"""


# ACF: n-scaled exact deviations, exact long lag products, one
# correctly-rounded double division per (series, lag).
ORACLES["q_acf_lags"] = """
    WITH daily AS (
        SELECT event_type, date_trunc('day', ts) AS day,
               CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS cents
        FROM events GROUP BY 1, 2
    ), dev AS (
        SELECT event_type, day,
               CAST(cents * (COUNT(*) OVER (PARTITION BY event_type))
                    - (SUM(cents) OVER (PARTITION BY event_type))
                    AS BIGINT) AS d
        FROM daily
    ), lagged AS (
        SELECT event_type, d,
               LEAD(d, 1) OVER w AS d1, LEAD(d, 2) OVER w AS d2,
               LEAD(d, 3) OVER w AS d3, LEAD(d, 4) OVER w AS d4,
               LEAD(d, 5) OVER w AS d5, LEAD(d, 6) OVER w AS d6,
               LEAD(d, 7) OVER w AS d7
        FROM dev WINDOW w AS (PARTITION BY event_type ORDER BY day)
    ), per AS MATERIALIZED (
        SELECT event_type,
               CAST(SUM(d * d) AS BIGINT) AS den,
               CAST(SUM(d * d1) AS BIGINT) AS num1,
               CAST(SUM(d * d2) AS BIGINT) AS num2,
               CAST(SUM(d * d3) AS BIGINT) AS num3,
               CAST(SUM(d * d4) AS BIGINT) AS num4,
               CAST(SUM(d * d5) AS BIGINT) AS num5,
               CAST(SUM(d * d6) AS BIGINT) AS num6,
               CAST(SUM(d * d7) AS BIGINT) AS num7
        FROM lagged GROUP BY 1
    )
    SELECT event_type, CAST(lag AS INTEGER) AS lag, num, den,
           CAST(num AS DOUBLE) / CAST(den AS DOUBLE) AS acf
    FROM (
        SELECT event_type, 1 AS lag, num1 AS num, den FROM per
        UNION ALL SELECT event_type, 2, num2, den FROM per
        UNION ALL SELECT event_type, 3, num3, den FROM per
        UNION ALL SELECT event_type, 4, num4, den FROM per
        UNION ALL SELECT event_type, 5, num5, den FROM per
        UNION ALL SELECT event_type, 6, num6, den FROM per
        UNION ALL SELECT event_type, 7, num7, den FROM per
    ) ORDER BY event_type, lag
"""

# ABC: descending cumulative revenue, integer share thresholds
# (cum*100 <= T*80 / T*95), exact counts and bp shares.
ORACLES["q_abc_classification"] = """
    WITH per_part AS (
        SELECT l_partkey,
               CAST(SUM(CAST(FLOOR(l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM lineitem GROUP BY 1
    ), cum AS (
        SELECT cents,
               CAST(SUM(cents) OVER (ORDER BY cents DESC, l_partkey
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS c
        FROM per_part
    ), tot AS (SELECT CAST(SUM(cents) AS BIGINT) AS t FROM per_part)
    SELECT abc_class,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(cents) AS BIGINT) AS revenue_cents,
           CAST((SUM(cents) * 10000) // (SELECT t FROM tot) AS BIGINT)
               AS revenue_share_bp
    FROM (
        SELECT cents,
               CASE WHEN c * 100 <= (SELECT t FROM tot) * 80 THEN 'A'
                    WHEN c * 100 <= (SELECT t FROM tot) * 95 THEN 'B'
                    ELSE 'C' END AS abc_class
        FROM cum
    ) GROUP BY 1 ORDER BY abc_class
"""


# New-vs-returning: exact distinct counts and integer-cent revenue per
# month; first month from the same customer-keyed groupBy + join-back.
ORACLES["q_new_vs_returning"] = """
    WITH o AS (
        SELECT o_custkey, date_trunc('month', o_orderdate) AS month,
               CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    ), firsts AS (
        SELECT o_custkey, MIN(month) AS fm FROM o GROUP BY 1
    )
    SELECT CAST(o.month AS DATE) AS month,
           CAST(COUNT(DISTINCT o.o_custkey) AS BIGINT) AS n_active,
           CAST(COUNT(DISTINCT CASE WHEN o.month = f.fm
                                    THEN o.o_custkey END) AS BIGINT) AS n_new,
           CAST(COUNT(DISTINCT o.o_custkey)
                - COUNT(DISTINCT CASE WHEN o.month = f.fm
                                      THEN o.o_custkey END)
                AS BIGINT) AS n_returning,
           CAST(SUM(CASE WHEN o.month = f.fm THEN cents ELSE 0 END)
                AS BIGINT) AS new_rev_cents,
           CAST(SUM(CASE WHEN o.month <> f.fm THEN cents ELSE 0 END)
                AS BIGINT) AS ret_rev_cents
    FROM o JOIN firsts f USING (o_custkey)
    GROUP BY o.month ORDER BY month
"""


# HHI: floor-truncated basis-point shares squared and summed — all
# exact integers, mirrored division order.
ORACLES["q_hhi_concentration"] = """
    WITH per AS (
        SELECT date_trunc('month', o.o_orderdate) AS month, l.l_suppkey,
               CAST(SUM(CAST(FLOOR(l.l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY 1, 2
    ), shares AS (
        SELECT month,
               (cents * 10000) // (SUM(cents) OVER (PARTITION BY month))
                   AS share_bp
        FROM per
    )
    SELECT CAST(month AS DATE) AS month,
           CAST(COUNT(*) AS BIGINT) AS n_suppliers,
           CAST(SUM(share_bp * share_bp) // 10000 AS BIGINT) AS hhi_bp
    FROM shares GROUP BY month ORDER BY month
"""


# Purchase cadence: whole-day LAG gaps under the (orderdate, orderkey)
# total order; DuckDB dates subtract to integer days directly.
ORACLES["q_purchase_cadence"] = """
    WITH gaps AS (
        SELECT CAST(CAST(o_orderdate AS DATE)
                    - LAG(CAST(o_orderdate AS DATE), 1) OVER (
                          PARTITION BY o_custkey
                          ORDER BY o_orderdate, o_orderkey)
                    AS BIGINT) AS gap
        FROM orders
    ), banded AS (
        SELECT gap,
               CASE WHEN gap <= 7 THEN 'a_week'
                    WHEN gap <= 30 THEN 'b_month'
                    WHEN gap <= 90 THEN 'c_quarter'
                    WHEN gap <= 365 THEN 'd_year'
                    ELSE 'e_longer' END AS cadence_band
        FROM gaps WHERE gap IS NOT NULL
    ), counts AS (
        SELECT cadence_band,
               CAST(COUNT(*) AS BIGINT) AS n_gaps,
               CAST(SUM(gap) // COUNT(*) AS BIGINT) AS mean_gap_days
        FROM banded GROUP BY 1
    )
    SELECT cadence_band, n_gaps, mean_gap_days,
           CAST((n_gaps * 10000) // (SELECT SUM(n_gaps) FROM counts)
                AS BIGINT) AS share_bp
    FROM counts ORDER BY cadence_band
"""

# IVF recall audit: replays the ENTIRE pruning lattice — deterministic
# first-16 quantizer, cell-assignment argmax (ORDER BY d DESC, i ≡ the
# strict-> fold), probe top-cells, pruned candidates, both top-k ranks,
# intersection counts. Every ranking is on ROUND(cosine, 6) with id
# tiebreaks (q_cosine_topk precedent); hits/recall_bp are exact integers.
ORACLES["q_ivf_recall"] = """
    WITH v AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings
    ), cents AS (
        SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS i, e AS c
        FROM (SELECT vec_id, e FROM v ORDER BY vec_id LIMIT 16)
    ), cscore AS (
        SELECT v.vec_id, c.i,
               ROUND(list_cosine_similarity(v.e, c.c), 6) AS d
        FROM v CROSS JOIN cents c
    ), assign AS (
        SELECT vec_id AS cid, i AS cell
        FROM (SELECT vec_id, i,
                     ROW_NUMBER() OVER (PARTITION BY vec_id
                                        ORDER BY d DESC, i) AS rn
              FROM cscore)
        WHERE rn = 1
    ), psel AS (
        SELECT vec_id FROM v
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
        LIMIT 50
    ), probes AS (
        SELECT vec_id AS pid, e AS pe FROM v
        WHERE vec_id IN (SELECT vec_id FROM psel)
    ), pcells AS (
        SELECT pid, i AS cell, rn AS cellpos
        FROM (SELECT vec_id AS pid, i,
                     ROW_NUMBER() OVER (PARTITION BY vec_id
                                        ORDER BY d DESC, i) AS rn
              FROM cscore
              WHERE vec_id IN (SELECT vec_id FROM psel))
        WHERE rn <= 4
    ), pairs AS (
        SELECT p.pid, v.vec_id AS cid,
               ROUND(list_cosine_similarity(v.e, p.pe), 6) AS sim
        FROM v JOIN probes p ON v.vec_id <> p.pid
    ), exact AS (
        SELECT pid, cid
        FROM (SELECT pid, cid,
                     ROW_NUMBER() OVER (PARTITION BY pid
                                        ORDER BY sim DESC, cid) AS rn
              FROM pairs)
        WHERE rn <= 10
    ), lv AS (
        SELECT CAST(unnest([1, 2, 4]) AS INTEGER) AS nprobe
    ), approx AS (
        SELECT pid, cid, nprobe
        FROM (SELECT pr.pid, pr.cid, l.nprobe,
                     ROW_NUMBER() OVER (PARTITION BY pr.pid, l.nprobe
                                        ORDER BY pr.sim DESC, pr.cid) AS rn
              FROM pairs pr
              JOIN assign a ON a.cid = pr.cid
              JOIN pcells pc ON pc.pid = pr.pid AND pc.cell = a.cell
              JOIN lv l ON pc.cellpos <= l.nprobe)
        WHERE rn <= 10
    ), np AS (SELECT COUNT(*) AS n_probes FROM probes),
    hits AS (
        SELECT ap.nprobe, COUNT(*) AS h
        FROM approx ap JOIN exact ex ON ex.pid = ap.pid AND ex.cid = ap.cid
        GROUP BY ap.nprobe
    )
    SELECT l.nprobe,
           CAST(np.n_probes AS BIGINT) AS n_probes,
           CAST(COALESCE(h.h, 0) AS BIGINT) AS hits,
           CAST(FLOOR(COALESCE(h.h, 0) * 10000.0 / (10 * np.n_probes))
                AS BIGINT) AS recall_bp
    FROM lv l LEFT JOIN hits h ON h.nprobe = l.nprobe CROSS JOIN np
    ORDER BY l.nprobe
"""

# MERGE INTO lifecycle: recompute both snapshots from corpus predicates
# (v2 = upsert + insert + delete applied to v1's predicate), full-outer
# diff, classify — all exact integers.
ORACLES["q_merge_upsert"] = """
    WITH o AS (
        SELECT o_orderkey AS k,
               CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    ), v1 AS (
        SELECT k, cents FROM o WHERE k % 3 = 0
    ), v2 AS (
        SELECT k,
               CASE WHEN k % 2 = 0 THEN cents + 100 ELSE cents END AS cents
        FROM o WHERE k % 3 = 0 AND k % 30 <> 15
        UNION ALL
        SELECT k, cents FROM o WHERE k % 3 = 1
    ), d AS (
        SELECT CASE WHEN ov.k IS NOT NULL AND n.k IS NULL THEN 'removed'
                    WHEN ov.k IS NULL AND n.k IS NOT NULL THEN 'added'
                    WHEN ov.cents IS DISTINCT FROM n.cents THEN 'updated'
               END AS change_type,
               ov.cents AS old_cents, n.cents AS new_cents
        FROM v1 ov FULL JOIN v2 n ON ov.k = n.k
    )
    SELECT change_type,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(COALESCE(new_cents, 0) - COALESCE(old_cents, 0))
                AS BIGINT) AS cents_delta
    FROM d WHERE change_type IS NOT NULL
    GROUP BY change_type ORDER BY change_type
"""


def _pq_recall_sql(m: int = 8, sub: int = 8, k_codes: int = 16, k: int = 10,
                   rerank_r: int = 100) -> str:
    """Oracle for q_pq_recall: replays the PQ lattice end to end.
    Distances are ROUND(fold, 6) with the fold seeded like Spark's
    aggregate-from-0.0 (list_reduce seeds from the first element;
    0.0 + x1 == x1 in IEEE, so the chains agree term for term). The
    ADC sum is the SAME fixed-order chain Spark's python-sum builds
    (0.0 + d0 + d1 + ...), reconstructed from per-subspace pivots —
    never an orderless SUM(), which could differ in the last ulp."""
    dim = m * sub
    def dist(a: str, b: str, n: int) -> str:
        return (
            f"ROUND(list_reduce(list_transform(range(1, {n + 1}), "
            f"i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])), "
            f"(x, y) -> x + y), 6)"
        )
    sub_v = f"list_slice(v.e, b.j * {sub} + 1, b.j * {sub} + {sub})"
    sub_p = f"list_slice(p.pe, b.j * {sub} + 1, b.j * {sub} + {sub})"
    adc_chain = "0.0"
    for j in range(m):
        adc_chain = f"({adc_chain} + MAX(CASE WHEN j = {j} THEN d END))"
    return f"""
    WITH v AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings
    ), cb AS (
        SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS c, e
        FROM (SELECT vec_id, e FROM v ORDER BY vec_id LIMIT {k_codes})
    ), books AS (
        SELECT CAST(j AS INTEGER) AS j, cb.c,
               list_slice(cb.e, j * {sub} + 1, j * {sub} + {sub}) AS bv
        FROM cb CROSS JOIN (SELECT unnest(range(0, {m})) AS j)
    ), cdist AS (
        SELECT v.vec_id, b.j, b.c, {dist(sub_v, "b.bv", sub)} AS d
        FROM v CROSS JOIN books b
    ), codes AS (
        SELECT vec_id, j, c AS code
        FROM (SELECT vec_id, j, c,
                     ROW_NUMBER() OVER (PARTITION BY vec_id, j
                                        ORDER BY d, c) AS rn
              FROM cdist)
        WHERE rn = 1
    ), probes AS (
        SELECT vec_id AS pid, e AS pe FROM v
        WHERE vec_id IN (SELECT vec_id FROM (
            SELECT vec_id FROM v
            ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
            LIMIT 50))
    ), ptab AS (
        SELECT p.pid, b.j, b.c, {dist(sub_p, "b.bv", sub)} AS d
        FROM probes p CROSS JOIN books b
    ), adcj AS (
        SELECT cd.vec_id AS cid, pt.pid, pt.j, pt.d
        FROM codes cd JOIN ptab pt ON pt.j = cd.j AND pt.c = cd.code
    ), adc AS (
        SELECT cid, pid, {adc_chain} AS approx_d
        FROM adcj GROUP BY cid, pid
    ), pairs AS (
        SELECT p.pid, v.vec_id AS cid,
               {dist("v.e", "p.pe", dim)} AS exact_d
        FROM v JOIN probes p ON v.vec_id <> p.pid
    ), exact AS (
        SELECT pid, cid
        FROM (SELECT pid, cid,
                     ROW_NUMBER() OVER (PARTITION BY pid
                                        ORDER BY exact_d, cid) AS rn
              FROM pairs)
        WHERE rn <= {k}
    ), shortlist AS (
        SELECT pr.pid, pr.cid, pr.exact_d,
               ROW_NUMBER() OVER (PARTITION BY pr.pid
                                  ORDER BY a.approx_d, pr.cid) AS arn
        FROM pairs pr JOIN adc a ON a.pid = pr.pid AND a.cid = pr.cid
    ), adc_topk AS (
        SELECT pid, cid FROM shortlist WHERE arn <= {k}
    ), reranked AS (
        SELECT pid, cid
        FROM (SELECT pid, cid,
                     ROW_NUMBER() OVER (PARTITION BY pid
                                        ORDER BY exact_d, cid) AS rn
              FROM shortlist WHERE arn <= {rerank_r})
        WHERE rn <= {k}
    ), np AS (SELECT COUNT(*) AS n_probes FROM probes),
    ha AS (
        SELECT COUNT(*) AS h FROM adc_topk t
        JOIN exact e ON e.pid = t.pid AND e.cid = t.cid
    ), hr AS (
        SELECT COUNT(*) AS h FROM reranked t
        JOIN exact e ON e.pid = t.pid AND e.cid = t.cid
    )
    SELECT CAST(np.n_probes AS BIGINT) AS n_probes,
           CAST(ha.h AS BIGINT) AS hits_adc,
           CAST(FLOOR(ha.h * 10000.0 / ({k} * np.n_probes)) AS BIGINT)
               AS recall_adc_bp,
           CAST(hr.h AS BIGINT) AS hits_rerank,
           CAST(FLOOR(hr.h * 10000.0 / ({k} * np.n_probes)) AS BIGINT)
               AS recall_rerank_bp
    FROM ha CROSS JOIN hr CROSS JOIN np
    """


ORACLES["q_pq_recall"] = _pq_recall_sql()

# Ordered funnel: the cumulative-flag chain replayed as nested window
# CTEs (s2 reads s1, s3 reads s2), then exact-long step counts.
ORACLES["q_funnel_conversion"] = """
    WITH st1 AS (
        SELECT user_id, event_type, ts, event_id,
               MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS s1
        FROM events
    ), st2 AS (
        SELECT *, MAX(CASE WHEN event_type = 'click' AND s1 = 1
                           THEN 1 ELSE 0 END)
                      OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS s2
        FROM st1
    ), st3 AS (
        SELECT *, MAX(CASE WHEN event_type = 'purchase' AND s2 = 1
                           THEN 1 ELSE 0 END)
                      OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS s3
        FROM st2
    ), per_user AS (
        SELECT user_id, MAX(s1) AS f1, MAX(s2) AS f2, MAX(s3) AS f3
        FROM st3 GROUP BY user_id
    ), tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n0,
               CAST(SUM(f1) AS BIGINT) AS n1,
               CAST(SUM(f2) AS BIGINT) AS n2,
               CAST(SUM(f3) AS BIGINT) AS n3
        FROM per_user
    ), steps AS (
        SELECT '1_view' AS step, n1 AS num, n0 AS den FROM tot
        UNION ALL
        SELECT '2_click_after_view', n2, n1 FROM tot
        UNION ALL
        SELECT '3_purchase_after_click', n3, n2 FROM tot
    )
    SELECT step, num AS n_users,
           CASE WHEN den > 0
                THEN CAST(FLOOR(num * 10000.0 / den) AS BIGINT)
                ELSE CAST(0 AS BIGINT) END AS conv_bp
    FROM steps ORDER BY step
"""

# DAU/MAU: the (day, user) distinct frame is the daily-active table;
# MAU = trailing-30-day range join against the O(days) day list.
ORACLES["q_dau_mau"] = """
    WITH du AS (
        SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day, user_id
        FROM events
    ), dau AS (
        SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM du GROUP BY day
    ), days AS (
        SELECT DISTINCT day FROM du
    ), mau AS (
        SELECT d.day, CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS mau
        FROM days d JOIN du a
          ON a.day <= d.day AND a.day > d.day - 30
        GROUP BY d.day
    )
    SELECT dau.day, dau.dau, mau.mau,
           CAST(FLOOR(dau.dau * 10000.0 / mau.mau) AS BIGINT)
               AS stickiness_bp
    FROM dau JOIN mau ON mau.day = dau.day
    ORDER BY dau.day
"""


def _ann_ivfpq_sql(n_cells: int = 16, nprobe: int = 4, m: int = 8,
                   sub: int = 8, k_codes: int = 16, k: int = 10,
                   rerank_r: int = 100) -> str:
    """Oracle for q_ann_ivfpq: the IVF and PQ oracle machineries fused —
    one first-16 frame serves both quantizers, assignment/probe-cells on
    ROUND(cosine,6), codes on ROUND(L2-fold,6), the ADC chain
    reconstructed in fixed order (see _pq_recall_sql), shortlist by
    (approx_d, cid) then exact re-rank."""
    dim = m * sub
    def dist(a: str, b: str, n: int) -> str:
        return (
            f"ROUND(list_reduce(list_transform(range(1, {n + 1}), "
            f"i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])), "
            f"(x, y) -> x + y), 6)"
        )
    sub_v = f"list_slice(v.e, b.j * {sub} + 1, b.j * {sub} + {sub})"
    sub_p = f"list_slice(p.pe, b.j * {sub} + 1, b.j * {sub} + {sub})"
    adc_chain = "0.0"
    for j in range(m):
        adc_chain = f"({adc_chain} + MAX(CASE WHEN pt.j = {j} THEN pt.d END))"
    return f"""
    WITH v AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings
    ), cb AS (
        SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS c, e
        FROM (SELECT vec_id, e FROM v ORDER BY vec_id LIMIT {n_cells})
    ), cscore AS (
        SELECT v.vec_id, cb.c AS i,
               ROUND(list_cosine_similarity(v.e, cb.e), 6) AS d
        FROM v CROSS JOIN cb
    ), assign AS (
        SELECT vec_id AS cid, i AS cell
        FROM (SELECT vec_id, i,
                     ROW_NUMBER() OVER (PARTITION BY vec_id
                                        ORDER BY d DESC, i) AS rn
              FROM cscore)
        WHERE rn = 1
    ), pcells AS (
        SELECT i AS cell
        FROM (SELECT i, ROW_NUMBER() OVER (ORDER BY d DESC, i) AS rn
              FROM cscore WHERE vec_id = 0)
        WHERE rn <= {nprobe}
    ), books AS (
        SELECT CAST(j AS INTEGER) AS j, cb.c,
               list_slice(cb.e, j * {sub} + 1, j * {sub} + {sub}) AS bv
        FROM cb CROSS JOIN (SELECT unnest(range(0, {m})) AS j)
    ), cdist AS (
        SELECT v.vec_id, b.j, b.c, {dist(sub_v, "b.bv", sub)} AS d
        FROM v CROSS JOIN books b
    ), codes AS (
        SELECT vec_id, j, c AS code
        FROM (SELECT vec_id, j, c,
                     ROW_NUMBER() OVER (PARTITION BY vec_id, j
                                        ORDER BY d, c) AS rn
              FROM cdist)
        WHERE rn = 1
    ), probe AS (
        SELECT e AS pe FROM v WHERE vec_id = 0
    ), ptab AS (
        SELECT b.j, b.c, {dist(sub_p, "b.bv", sub)} AS d
        FROM probe p CROSS JOIN books b
    ), cand AS (
        SELECT a.cid FROM assign a
        JOIN pcells pc ON pc.cell = a.cell
        WHERE a.cid <> 0
    ), adc AS (
        SELECT cd.vec_id AS cid, {adc_chain} AS approx_d
        FROM codes cd JOIN ptab pt ON pt.j = cd.j AND pt.c = cd.code
        WHERE cd.vec_id IN (SELECT cid FROM cand)
        GROUP BY cd.vec_id
    ), shortlist AS (
        SELECT cid FROM adc ORDER BY approx_d, cid LIMIT {rerank_r}
    )
    SELECT v.vec_id, {dist("v.e", "p.pe", dim)} AS exact_d
    FROM v JOIN shortlist s ON s.cid = v.vec_id
    CROSS JOIN probe p
    ORDER BY exact_d, v.vec_id
    LIMIT {k}
    """


ORACLES["q_ann_ivfpq"] = _ann_ivfpq_sql()

# Schema evolution: the evolved union recomputed from corpus predicates —
# even keys predate the column (priority '(none)'), odd keys carry it.
ORACLES["q_schema_evolution"] = """
    WITH o AS (
        SELECT o_orderkey AS k,
               CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents,
               o_orderpriority AS priority
        FROM orders
    ), evolved AS (
        SELECT k, cents, '(none)' AS priority FROM o WHERE k % 2 = 0
        UNION ALL
        SELECT k, cents, priority FROM o WHERE k % 2 = 1
    )
    SELECT priority,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(cents) AS BIGINT) AS cents_total
    FROM evolved GROUP BY priority ORDER BY priority
"""

# Partition-spec evolution (r13): the table is 'F' orders committed
# unpartitioned (spec 1) + 'O' orders appended under a priority
# partition spec (spec 2), read back pruned to 1-URGENT. The layout is
# engine-internal (runtime guards pin the pruning facts); the DATA
# contract the oracle replays is that the pruned read over both layouts
# equals the plain corpus slice — old files readable, pruning lossless.
ORACLES["q_partition_evolution"] = """
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents_total
    FROM orders
    WHERE o_orderstatus IN ('F', 'O') AND o_orderpriority = '1-URGENT'
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
"""

# q_ann_ivf upgraded from rows-only (r12): the in-memory IVF top-k with
# the deterministic first-16 quantizer is fully replayable. Cell scores
# mirror _cell_scores' UNROUNDED fold bit-for-bit (list_reduce seeds from
# the first element; 0.0 + x1 == x1 in IEEE, division and sqrt are
# correctly rounded), so the argmax/top-cells agree exactly; the final
# rank is ROUND(cosine, 6) (q_cosine_topk precedent). The probe itself
# is a corpus member and correctly tops its own list.
ORACLES["q_ann_ivf"] = """
    WITH v AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings
    ), cb AS (
        SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS i, e
        FROM (SELECT vec_id, e FROM v ORDER BY vec_id LIMIT 16)
    ), score AS (
        SELECT v.vec_id, cb.i,
               list_reduce(list_transform(range(1, 65),
                                          k -> v.e[k] * cb.e[k]),
                           (x, y) -> x + y)
               / sqrt(list_reduce(list_transform(range(1, 65),
                                                 k -> cb.e[k] * cb.e[k]),
                                  (x, y) -> x + y)) AS d
        FROM v CROSS JOIN cb
    ), assign AS (
        SELECT vec_id AS cid, i AS cell
        FROM (SELECT vec_id, i,
                     ROW_NUMBER() OVER (PARTITION BY vec_id
                                        ORDER BY d DESC, i) AS rn
              FROM score)
        WHERE rn = 1
    ), pcells AS (
        SELECT i AS cell
        FROM (SELECT i, ROW_NUMBER() OVER (ORDER BY d DESC, i) AS rn
              FROM score WHERE vec_id = 0)
        WHERE rn <= 4
    ), probe AS (
        SELECT e AS pe FROM v WHERE vec_id = 0
    )
    SELECT v.vec_id,
           ROUND(list_cosine_similarity(v.e, p.pe), 6) AS cosine_sim
    FROM v
    JOIN assign a ON a.cid = v.vec_id
    JOIN pcells pc ON pc.cell = a.cell
    CROSS JOIN probe p
    ORDER BY cosine_sim DESC, v.vec_id
    LIMIT 10
"""

# Trailing-7-day HLL register state: per-day md5 register/rank tables
# (the q_hll_registers derivation, grouped by day), zero-filled per day,
# merged by MAX over the trailing-week join — all exact integers.
ORACLES["q_wau_sketch"] = """
    WITH du AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day, user_id
        FROM events
    ), keyed AS (
        SELECT day, md5(CAST(user_id AS VARCHAR)) AS h FROM du
    ), hashed AS (
        SELECT day,
               CAST(('0x' || substring(h, 1, 2)) AS BIGINT) % 64 AS register,
               CAST(('0x' || substring(h, 3, 15)) AS BIGINT) AS v
        FROM keyed
    ), regs AS (
        SELECT day, register,
               MAX(CASE WHEN v = 0 THEN 61
                        ELSE 61 - length(bin(v)) END) AS rank
        FROM hashed GROUP BY day, register
    ), days AS (
        SELECT DISTINCT day FROM du
    ), perday AS (
        SELECT d.day, g.register, COALESCE(r.rank, 0) AS rank
        FROM days d
        CROSS JOIN generate_series(0, 63) AS g(register)
        LEFT JOIN regs r ON r.day = d.day AND r.register = g.register
    )
    SELECT d.day, CAST(s.register AS INTEGER) AS register,
           CAST(MAX(s.rank) AS INTEGER) AS rank
    FROM days d JOIN perday s
      ON s.day <= d.day AND s.day > d.day - 7
    GROUP BY d.day, s.register
    ORDER BY d.day, s.register
"""
