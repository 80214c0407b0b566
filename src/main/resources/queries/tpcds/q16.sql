-- TPC-DS query 16: the text of DuckDB 1.0.0's tpcds_queries().
-- Deviations, the same for both engines:
--   - Double-quoted aliases become plain identifiers: Spark reads "..." as
--     a string literal.
--   - An outer SELECT casts total_shipping_cost, total_net_profit to
--     BIGINT: DuckDB widens sum(INTEGER/BIGINT) to HUGEINT, which the
--     hasher bans, and on Spark the cast is a no-op.
select order_count, cast(total_shipping_cost as bigint) as total_shipping_cost, cast(total_net_profit as bigint) as total_net_profit
from (
SELECT count(DISTINCT cs_order_number) AS order_count,
       sum(cs_ext_ship_cost) AS total_shipping_cost,
       sum(cs_net_profit) AS total_net_profit
FROM catalog_sales cs1,
     date_dim,
     customer_address,
     call_center
WHERE d_date BETWEEN '2002-02-01' AND cast('2002-04-02' AS date)
  AND cs1.cs_ship_date_sk = d_date_sk
  AND cs1.cs_ship_addr_sk = ca_address_sk
  AND ca_state = 'GA'
  AND cs1.cs_call_center_sk = cc_call_center_sk
  AND cc_county = 'Williamson County'
  AND EXISTS
    (SELECT *
     FROM catalog_sales cs2
     WHERE cs1.cs_order_number = cs2.cs_order_number
       AND cs1.cs_warehouse_sk <> cs2.cs_warehouse_sk)
  AND NOT EXISTS
    (SELECT *
     FROM catalog_returns cr1
     WHERE cs1.cs_order_number = cr1.cr_order_number)
ORDER BY count(DISTINCT cs_order_number)
LIMIT 100
) graft_cast;
