-- TPC-DS query 99: the text of DuckDB 1.0.0's tpcds_queries().
-- Deviations, the same for both engines:
--   - Double-quoted aliases become plain identifiers: Spark reads "..." as
--     a string literal.
--   - An outer SELECT casts d_le_30, d_31_60, d_61_90, d_91_120, d_gt_120
--     to BIGINT: DuckDB widens sum(INTEGER/BIGINT) to HUGEINT, which the
--     hasher bans, and on Spark the cast is a no-op.
select w_substr, sm_type, cc_name_lower, cast(d_le_30 as bigint) as d_le_30, cast(d_31_60 as bigint) as d_31_60, cast(d_61_90 as bigint) as d_61_90, cast(d_91_120 as bigint) as d_91_120, cast(d_gt_120 as bigint) as d_gt_120
from (
SELECT w_substr ,
       sm_type ,
       LOWER(cc_name) cc_name_lower ,
       sum(CASE
               WHEN (cs_ship_date_sk - cs_sold_date_sk <= 30) THEN 1
               ELSE 0
           END) AS d_le_30,
       sum(CASE
               WHEN (cs_ship_date_sk - cs_sold_date_sk > 30)
                    AND (cs_ship_date_sk - cs_sold_date_sk <= 60) THEN 1
               ELSE 0
           END) AS d_31_60,
       sum(CASE
               WHEN (cs_ship_date_sk - cs_sold_date_sk > 60)
                    AND (cs_ship_date_sk - cs_sold_date_sk <= 90) THEN 1
               ELSE 0
           END) AS d_61_90,
       sum(CASE
               WHEN (cs_ship_date_sk - cs_sold_date_sk > 90)
                    AND (cs_ship_date_sk - cs_sold_date_sk <= 120) THEN 1
               ELSE 0
           END) AS d_91_120,
       sum(CASE
               WHEN (cs_ship_date_sk - cs_sold_date_sk > 120) THEN 1
               ELSE 0
           END) AS d_gt_120
FROM catalog_sales ,
  (SELECT SUBSTRING(w_warehouse_name,1,20) w_substr, *
   FROM warehouse) AS sq1 ,
     ship_mode ,
     call_center ,
     date_dim
WHERE d_month_seq BETWEEN 1200 AND 1200 + 11
  AND cs_ship_date_sk = d_date_sk
  AND cs_warehouse_sk = w_warehouse_sk
  AND cs_ship_mode_sk = sm_ship_mode_sk
  AND cs_call_center_sk = cc_call_center_sk
GROUP BY w_substr ,
         sm_type ,
         cc_name
ORDER BY w_substr  NULLS FIRST,
         sm_type  NULLS FIRST,
        cc_name_lower NULLS FIRST
LIMIT 100
) graft_cast;
