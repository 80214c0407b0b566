-- TPC-DS query 91: the text of DuckDB 1.0.0's tpcds_queries().
-- Deviations, the same for both engines:
--   - hd_buy_potential 'Unknown%' becomes '0-500%', a band of the
--     generator's pool.
--   - gmt_offset -5/-7 becomes -500: every generated offset is -500 cents.
--   - An outer SELECT casts Returns_Loss to BIGINT: DuckDB widens
--     sum(INTEGER/BIGINT) to HUGEINT, which the hasher bans, and on Spark
--     the cast is a no-op.
select Call_Center, Call_Center_Name, Manager, cast(Returns_Loss as bigint) as Returns_Loss
from (
SELECT cc_call_center_id Call_Center,
       cc_name Call_Center_Name,
       cc_manager Manager,
       sum(cr_net_loss) Returns_Loss
FROM call_center,
     catalog_returns,
     date_dim,
     customer,
     customer_address,
     customer_demographics,
     household_demographics
WHERE cr_call_center_sk = cc_call_center_sk
  AND cr_returned_date_sk = d_date_sk
  AND cr_returning_customer_sk= c_customer_sk
  AND cd_demo_sk = c_current_cdemo_sk
  AND hd_demo_sk = c_current_hdemo_sk
  AND ca_address_sk = c_current_addr_sk
  AND d_year = 1998
  AND d_moy = 11
  AND ((cd_marital_status = 'M'
        AND cd_education_status = 'Unknown') or(cd_marital_status = 'W'
                                                AND cd_education_status = 'Advanced Degree'))
  AND hd_buy_potential LIKE '0-500%'
  AND ca_gmt_offset = -500
GROUP BY cc_call_center_id,
         cc_name,
         cc_manager,
         cd_marital_status,
         cd_education_status
ORDER BY sum(cr_net_loss) DESC
) graft_cast;
