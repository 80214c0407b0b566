select d_year, count(*) as cnt
 from store_sales
     ,date_dim
 where ss_sold_date_sk = d_date_sk
 group by d_year
 order by d_year;
