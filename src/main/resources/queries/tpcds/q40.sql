-- TPC-DS query 40: the text of DuckDB 1.0.0's tpcds_queries().
-- Deviations, the same for both engines:
--   - The price band 0.99..1.49 becomes 99..1499 cents: the generator
--     prices one item in 0.99..1.49, and it has no catalog sales in the
--     window.
--   - An outer SELECT casts sales_before, sales_after to BIGINT: DuckDB
--     widens sum(INTEGER/BIGINT) to HUGEINT, which the hasher bans, and on
--     Spark the cast is a no-op.
select w_state, i_item_id, cast(sales_before as bigint) as sales_before, cast(sales_after as bigint) as sales_after
from (
SELECT w_state,
       i_item_id,
       sum(CASE
               WHEN (cast(d_date AS date) < CAST ('2000-03-11' AS date)) THEN cs_sales_price - coalesce(cr_refunded_cash,0)
               ELSE 0
           END) AS sales_before,
       sum(CASE
               WHEN (cast(d_date AS date) >= CAST ('2000-03-11' AS date)) THEN cs_sales_price - coalesce(cr_refunded_cash,0)
               ELSE 0
           END) AS sales_after
FROM catalog_sales
LEFT OUTER JOIN catalog_returns ON (cs_order_number = cr_order_number
                                    AND cs_item_sk = cr_item_sk) ,warehouse,
                                                                  item,
                                                                  date_dim
WHERE i_current_price BETWEEN 99 AND 1499
  AND i_item_sk = cs_item_sk
  AND cs_warehouse_sk = w_warehouse_sk
  AND cs_sold_date_sk = d_date_sk
  AND d_date BETWEEN CAST ('2000-02-10' AS date) AND CAST ('2000-04-10' AS date)
GROUP BY w_state,
         i_item_id
ORDER BY w_state,
         i_item_id
LIMIT 100
) graft_cast;
