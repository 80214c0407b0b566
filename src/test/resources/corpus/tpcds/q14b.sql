with per_category as
 (select i_category, ss_ticket_number
  from store_sales, item
  where ss_item_sk = i_item_sk
    and i_category in ('Books', 'Music'))
select i_category, count(*) as lines
 from per_category
 group by i_category
 order by i_category;
