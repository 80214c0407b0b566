-- TPC-DS query 32: the text of DuckDB 1.0.0's tpcds_queries().
-- Deviations, the same for both engines:
--   - Double-quoted aliases become plain identifiers: Spark reads "..." as
--     a string literal.
--   - i_manufact_id 977 becomes 21: the generator's ids stop at 899, and
--     21's items have catalog sales in the window above the 1.3x-average
--     gate.
--   - An outer SELECT casts excess_discount to BIGINT: DuckDB widens
--     sum(INTEGER/BIGINT) to HUGEINT, which the hasher bans, and on Spark
--     the cast is a no-op.
select cast(excess_discount as bigint) as excess_discount
from (
SELECT sum(cs_ext_discount_amt) AS excess_discount
FROM catalog_sales ,
     item ,
     date_dim
WHERE i_manufact_id = 21
  AND i_item_sk = cs_item_sk
  AND d_date BETWEEN '2000-01-27' AND cast('2000-04-26' AS date)
  AND d_date_sk = cs_sold_date_sk
  AND cs_ext_discount_amt >
    ( SELECT 1.3 * avg(cs_ext_discount_amt)
     FROM catalog_sales ,
          date_dim
     WHERE cs_item_sk = i_item_sk
       AND d_date BETWEEN '2000-01-27' AND cast('2000-04-26' AS date)
       AND d_date_sk = cs_sold_date_sk )
LIMIT 100
) graft_cast;
