-- TPC-DS query 92: the text of DuckDB 1.0.0's tpcds_queries().
-- Deviations, the same for both engines:
--   - Double-quoted aliases become plain identifiers: Spark reads "..." as
--     a string literal.
--   - i_manufact_id 350 becomes 92: 92's items have web sales above the
--     1.3x-average gate.
--   - An outer SELECT casts excess_discount to BIGINT: DuckDB widens
--     sum(INTEGER/BIGINT) to HUGEINT, which the hasher bans, and on Spark
--     the cast is a no-op.
select cast(excess_discount as bigint) as excess_discount
from (
SELECT sum(ws_ext_discount_amt) AS excess_discount
FROM web_sales,
     item,
     date_dim
WHERE i_manufact_id = 92
  AND i_item_sk = ws_item_sk
  AND d_date BETWEEN '2000-01-27' AND cast('2000-04-26' AS date)
  AND d_date_sk = ws_sold_date_sk
  AND ws_ext_discount_amt >
    (SELECT 1.3 * avg(ws_ext_discount_amt)
     FROM web_sales,
          date_dim
     WHERE ws_item_sk = i_item_sk
       AND d_date BETWEEN '2000-01-27' AND cast('2000-04-26' AS date)
       AND d_date_sk = ws_sold_date_sk )
ORDER BY sum(ws_ext_discount_amt)
LIMIT 100
) graft_cast;
