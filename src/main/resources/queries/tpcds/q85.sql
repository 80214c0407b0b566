-- TPC-DS query 85: the text of DuckDB 1.0.0's tpcds_queries().
-- Deviations, the same for both engines:
--   - Unnamed outputs get aliases: the oracle compare matches columns by
--     name.
--   - Money literals scale x100: the generated money columns are BIGINT
--     cents.
--   - The demographic pairs M/'Advanced Degree' and W/'2 yr Degree' become
--     U/'Advanced Degree' and D/'Primary', and the first state of each list
--     becomes 'TX': the generator puts most refunds on those demographics
--     and every refunded address in TX.
SELECT SUBSTRING(r_reason_desc,1,20) AS r20,
       avg(ws_quantity) avg1,
       avg(wr_refunded_cash) avg2,
       avg(wr_fee) avg3
FROM web_sales,
     web_returns,
     web_page,
     customer_demographics cd1,
     customer_demographics cd2,
     customer_address,
     date_dim,
     reason
WHERE ws_web_page_sk = wp_web_page_sk
  AND ws_item_sk = wr_item_sk
  AND ws_order_number = wr_order_number
  AND ws_sold_date_sk = d_date_sk
  AND d_year = 2000
  AND cd1.cd_demo_sk = wr_refunded_cdemo_sk
  AND cd2.cd_demo_sk = wr_returning_cdemo_sk
  AND ca_address_sk = wr_refunded_addr_sk
  AND r_reason_sk = wr_reason_sk
  AND ( ( cd1.cd_marital_status = 'U'
         AND cd1.cd_marital_status = cd2.cd_marital_status
         AND cd1.cd_education_status = 'Advanced Degree'
         AND cd1.cd_education_status = cd2.cd_education_status
         AND ws_sales_price BETWEEN 10000 AND 15000 )
       OR ( cd1.cd_marital_status = 'S'
           AND cd1.cd_marital_status = cd2.cd_marital_status
           AND cd1.cd_education_status = 'College'
           AND cd1.cd_education_status = cd2.cd_education_status
           AND ws_sales_price BETWEEN 5000 AND 10000 )
       OR ( cd1.cd_marital_status = 'D'
           AND cd1.cd_marital_status = cd2.cd_marital_status
           AND cd1.cd_education_status = 'Primary'
           AND cd1.cd_education_status = cd2.cd_education_status
           AND ws_sales_price BETWEEN 15000 AND 20000 ) )
  AND ( ( ca_country = 'United States'
         AND ca_state IN ('TX',
                          'OH',
                          'NJ')
         AND ws_net_profit BETWEEN 10000 AND 20000)
       OR ( ca_country = 'United States'
           AND ca_state IN ('TX',
                            'CT',
                            'KY')
           AND ws_net_profit BETWEEN 15000 AND 30000)
       OR ( ca_country = 'United States'
           AND ca_state IN ('TX',
                            'IA',
                            'AR')
           AND ws_net_profit BETWEEN 5000 AND 25000) )
GROUP BY r_reason_desc
ORDER BY SUBSTRING(r_reason_desc,1,20) ,
         avg(ws_quantity) ,
         avg(wr_refunded_cash) ,
         avg(wr_fee)
LIMIT 100;
