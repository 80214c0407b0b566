-- TPC-DS query 82: the text of DuckDB 1.0.0's tpcds_queries().
-- Deviations, the same for both engines:
--   - Money literals scale x100: the generated money columns are BIGINT
--     cents.
--   - The manufacturer ids become ids the generator gives items in the
--     price band (its ids stop at 899).
SELECT i_item_id ,
       i_item_desc ,
       i_current_price
FROM item,
     inventory,
     date_dim,
     store_sales
WHERE i_current_price BETWEEN 6200 AND 6200+3000
  AND inv_item_sk = i_item_sk
  AND d_date_sk=inv_date_sk
  AND d_date BETWEEN cast('2000-05-25' AS date) AND cast('2000-07-24' AS date)
  AND i_manufact_id IN (1, 2, 6, 7)
  AND inv_quantity_on_hand BETWEEN 100 AND 500
  AND ss_item_sk = i_item_sk
GROUP BY i_item_id,
         i_item_desc,
         i_current_price
ORDER BY i_item_id
LIMIT 100;
