package graft.queries

/** Output-schema cast lists for the generated-corpus entries (the executed
  * TPC-DS slice and reftpch_q12), keyed by entry name and applied by
  * [[SqlCorpus.castWrap]].
  *
  * DuckDB widens sum(INTEGER/BIGINT) to HUGEINT (int128); the driver's
  * hasher treats widened integer outputs asymmetrically between the Spark
  * parquet dump and the DuckDB result (the round-4 DECIMAL lesson, same
  * class), so no oracle-checked schema may contain one. Every query whose
  * result has a HUGEINT column (probed empirically with DuckDB over the
  * generated tables) is wrapped in an outer SELECT that casts exactly those
  * columns to BIGINT — applied IDENTICALLY to Spark and the oracle, so both
  * engines run the same statement. The cast is a no-op on Spark (its
  * sum(BIGINT) is already BIGINT — the very reason the values fit int64)
  * and collapses DuckDB's HUGEINT to the common type. dev/compare.py bans
  * the whole widened-integer class alongside DECIMAL.
  *
  * Each entry lists the query's FULL output column list in order (so the
  * wrapper preserves the schema exactly); `true` marks a column DuckDB
  * types as HUGEINT. */
object TpcdsCasts {
  val cols: Map[String, Seq[(String, Boolean)]] = Map(
    "reftpch_q12" -> Seq(("l_shipmode", false), ("high_line_count", true), ("low_line_count", true)),
    "tpcds_q12" -> Seq(("i_item_id", false), ("i_item_desc", false), ("i_category", false), ("i_class", false), ("i_current_price", false), ("itemrevenue", true), ("revenueratio", false)),
    "tpcds_q13" -> Seq(("avg_qty", false), ("avg_sp", false), ("avg_wc", false), ("sum_wc", true)),
    "tpcds_q14a" -> Seq(("channel", false), ("i_brand_id", false), ("i_class_id", false), ("i_category_id", false), ("sum_sales", true), ("sum_number_sales", true)),
    "tpcds_q14b" -> Seq(("ty_channel", false), ("ty_brand", false), ("ty_class", false), ("ty_category", false), ("ty_sales", true), ("ty_number_sales", false), ("ly_channel", false), ("ly_brand", false), ("ly_class", false), ("ly_category", false), ("ly_sales", true), ("ly_number_sales", false)),
    "tpcds_q15" -> Seq(("ca_zip", false), ("sum_sales", true)),
    "tpcds_q16" -> Seq(("order_count", false), ("total_shipping_cost", true), ("total_net_profit", true)),
    "tpcds_q19" -> Seq(("brand_id", false), ("brand", false), ("i_manufact_id", false), ("i_manufact", false), ("ext_price", true)),
    "tpcds_q20" -> Seq(("i_item_id", false), ("i_item_desc", false), ("i_category", false), ("i_class", false), ("i_current_price", false), ("itemrevenue", true), ("revenueratio", false)),
    "tpcds_q21" -> Seq(("w_warehouse_name", false), ("i_item_id", false), ("inv_before", true), ("inv_after", true)),
    "tpcds_q23a" -> Seq(("sum_sales", true)),
    "tpcds_q23b" -> Seq(("c_last_name", false), ("c_first_name", false), ("sales", true)),
    "tpcds_q24a" -> Seq(("c_last_name", false), ("c_first_name", false), ("s_store_name", false), ("paid", true)),
    "tpcds_q24b" -> Seq(("c_last_name", false), ("c_first_name", false), ("s_store_name", false), ("paid", true)),
    "tpcds_q3" -> Seq(("d_year", false), ("brand_id", false), ("brand", false), ("sum_agg", true)),
    "tpcds_q30" -> Seq(("c_customer_id", false), ("c_salutation", false), ("c_first_name", false), ("c_last_name", false), ("c_preferred_cust_flag", false), ("c_birth_day", false), ("c_birth_month", false), ("c_birth_year", false), ("c_birth_country", false), ("c_login", false), ("c_email_address", false), ("c_last_review_date", false), ("ctr_total_return", true)),
    "tpcds_q32" -> Seq(("excess_discount", true)),
    "tpcds_q33" -> Seq(("i_manufact_id", false), ("total_sales", true)),
    "tpcds_q35" -> Seq(("ca_state", false), ("cd_gender", false), ("cd_marital_status", false), ("cd_dep_count", false), ("cnt1", false), ("avg_dep", false), ("std_dep", false), ("sum_dep", true), ("cd_dep_employed_count", false), ("cnt2", false), ("avg_emp", false), ("std_emp", false), ("sum_emp", true), ("cd_dep_college_count", false), ("cnt3", false), ("avg_col", false), ("std_col", false), ("sum_col", true)),
    "tpcds_q40" -> Seq(("w_state", false), ("i_item_id", false), ("sales_before", true), ("sales_after", true)),
    "tpcds_q42" -> Seq(("d_year", false), ("i_category_id", false), ("i_category", false), ("sum_sales", true)),
    "tpcds_q43" -> Seq(("s_store_name", false), ("s_store_id", false), ("sun_sales", true), ("mon_sales", true), ("tue_sales", true), ("wed_sales", true), ("thu_sales", true), ("fri_sales", true), ("sat_sales", true)),
    "tpcds_q45" -> Seq(("ca_zip", false), ("ca_city", false), ("sum_sales", true)),
    "tpcds_q46" -> Seq(("c_last_name", false), ("c_first_name", false), ("ca_city", false), ("bought_city", false), ("ss_ticket_number", false), ("amt", true), ("profit", true)),
    "tpcds_q47" -> Seq(("s_store_name", false), ("s_company_name", false), ("d_year", false), ("avg_monthly_sales", false), ("sum_sales", true), ("psum", true), ("nsum", true)),
    "tpcds_q48" -> Seq(("sum_qty", true)),
    "tpcds_q5" -> Seq(("channel", false), ("id", false), ("sales", true), ("returns", true), ("profit", true)),
    "tpcds_q50" -> Seq(("s_store_name", false), ("s_company_id", false), ("s_street_number", false), ("s_street_name", false), ("s_street_type", false), ("s_suite_number", false), ("s_city", false), ("s_county", false), ("s_state", false), ("s_zip", false), ("d_le_30", true), ("d_31_60", true), ("d_61_90", true), ("d_91_120", true), ("d_gt_120", true)),
    "tpcds_q51" -> Seq(("item_sk", false), ("d_date", false), ("web_sales", true), ("store_sales", true), ("web_cumulative", true), ("store_cumulative", true)),
    "tpcds_q52" -> Seq(("d_year", false), ("brand_id", false), ("brand", false), ("ext_price", true)),
    "tpcds_q53" -> Seq(("i_manufact_id", false), ("sum_sales", true), ("avg_quarterly_sales", false)),
    "tpcds_q55" -> Seq(("brand_id", false), ("brand", false), ("ext_price", true)),
    "tpcds_q56" -> Seq(("i_item_id", false), ("total_sales", true)),
    "tpcds_q57" -> Seq(("i_category", false), ("i_brand", false), ("cc_name", false), ("d_year", false), ("avg_monthly_sales", false), ("sum_sales", true), ("psum", true), ("nsum", true)),
    "tpcds_q58" -> Seq(("item_id", false), ("ss_item_rev", true), ("ss_dev", false), ("cs_item_rev", true), ("cs_dev", false), ("ws_item_rev", true), ("ws_dev", false), ("average", false)),
    "tpcds_q60" -> Seq(("i_item_id", false), ("total_sales", true)),
    "tpcds_q61" -> Seq(("promotions", true), ("total", true), ("promo_pct", false)),
    "tpcds_q62" -> Seq(("wh", false), ("sm_type", false), ("web_name", false), ("d_le_30", true), ("d_31_60", true), ("d_61_90", true), ("d_91_120", true), ("d_gt_120", true)),
    "tpcds_q63" -> Seq(("i_manager_id", false), ("sum_sales", true), ("avg_monthly_sales", false)),
    "tpcds_q64" -> Seq(("product_name", false), ("store_name", false), ("store_zip", false), ("b_street_number", false), ("b_street_name", false), ("b_city", false), ("b_zip", false), ("c_street_number", false), ("c_street_name", false), ("c_city", false), ("c_zip", false), ("syear1", false), ("cnt1", false), ("s11", true), ("s21", true), ("s31", true), ("s12", true), ("s22", true), ("s32", true), ("syear2", false), ("cnt2", false)),
    "tpcds_q65" -> Seq(("s_store_name", false), ("i_item_desc", false), ("revenue", true), ("i_current_price", false), ("i_wholesale_cost", false), ("i_brand", false)),
    "tpcds_q66" -> Seq(("w_warehouse_name", false), ("w_warehouse_sq_ft", false), ("w_city", false), ("w_county", false), ("w_state", false), ("w_country", false), ("ship_carriers", false), ("year", false), ("jan_sales", true), ("feb_sales", true), ("mar_sales", true), ("apr_sales", true), ("may_sales", true), ("jun_sales", true), ("jul_sales", true), ("aug_sales", true), ("sep_sales", true), ("oct_sales", true), ("nov_sales", true), ("dec_sales", true), ("jan_sales_per_sq_foot", false), ("feb_sales_per_sq_foot", false), ("mar_sales_per_sq_foot", false), ("apr_sales_per_sq_foot", false), ("may_sales_per_sq_foot", false), ("jun_sales_per_sq_foot", false), ("jul_sales_per_sq_foot", false), ("aug_sales_per_sq_foot", false), ("sep_sales_per_sq_foot", false), ("oct_sales_per_sq_foot", false), ("nov_sales_per_sq_foot", false), ("dec_sales_per_sq_foot", false), ("jan_net", true), ("feb_net", true), ("mar_net", true), ("apr_net", true), ("may_net", true), ("jun_net", true), ("jul_net", true), ("aug_net", true), ("sep_net", true), ("oct_net", true), ("nov_net", true), ("dec_net", true)),
    "tpcds_q67" -> Seq(("i_category", false), ("i_class", false), ("i_brand", false), ("i_product_name", false), ("d_year", false), ("d_qoy", false), ("d_moy", false), ("s_store_id", false), ("sumsales", true), ("rk", false)),
    "tpcds_q68" -> Seq(("c_last_name", false), ("c_first_name", false), ("ca_city", false), ("bought_city", false), ("ss_ticket_number", false), ("extended_price", true), ("extended_tax", true), ("list_price", true)),
    "tpcds_q70" -> Seq(("total_sum", true), ("s_state", false), ("s_county", false), ("lochierarchy", false), ("rank_within_parent", false)),
    "tpcds_q71" -> Seq(("brand_id", false), ("brand", false), ("t_hour", false), ("t_minute", false), ("ext_price", true)),
    "tpcds_q72" -> Seq(("i_item_desc", false), ("w_warehouse_name", false), ("d_week_seq", false), ("no_promo", true), ("promo", true), ("total_cnt", false)),
    "tpcds_q75" -> Seq(("prev_year", false), ("year", false), ("i_brand_id", false), ("i_class_id", false), ("i_category_id", false), ("i_manufact_id", false), ("prev_yr_cnt", true), ("curr_yr_cnt", true), ("sales_cnt_diff", true), ("sales_amt_diff", true)),
    "tpcds_q76" -> Seq(("channel", false), ("col_name", false), ("d_year", false), ("d_qoy", false), ("i_category", false), ("sales_cnt", false), ("sales_amt", true)),
    "tpcds_q77" -> Seq(("channel", false), ("id", false), ("sales", true), ("ret_amt", true), ("profit", true)),
    "tpcds_q78" -> Seq(("ss_customer_sk", false), ("ratio", false), ("store_qty", true), ("store_wholesale_cost", true), ("store_sales_price", true), ("other_chan_qty", true), ("other_chan_wholesale_cost", true), ("other_chan_sales_price", true)),
    "tpcds_q79" -> Seq(("c_last_name", false), ("c_first_name", false), ("s_city", false), ("ss_ticket_number", false), ("amt", true), ("profit", true)),
    "tpcds_q8" -> Seq(("s_store_name", false), ("net_profit", true)),
    "tpcds_q80" -> Seq(("channel", false), ("id", false), ("sales", true), ("returns", true), ("profit", true)),
    "tpcds_q81" -> Seq(("c_customer_id", false), ("c_salutation", false), ("c_first_name", false), ("c_last_name", false), ("ca_street_number", false), ("ca_street_name", false), ("ca_street_type", false), ("ca_suite_number", false), ("ca_city", false), ("ca_county", false), ("ca_state", false), ("ca_zip", false), ("ca_country", false), ("ca_gmt_offset", false), ("ca_location_type", false), ("ctr_total_return", true)),
    "tpcds_q83" -> Seq(("item_id", false), ("sr_item_qty", true), ("sr_dev", false), ("cr_item_qty", true), ("cr_dev", false), ("wr_item_qty", true), ("wr_dev", false), ("average", false)),
    "tpcds_q86" -> Seq(("total_sum", true), ("i_category", false), ("i_class", false), ("lochierarchy", false), ("rank_within_parent", false)),
    "tpcds_q89" -> Seq(("i_category", false), ("i_class", false), ("i_brand", false), ("s_store_name", false), ("s_company_name", false), ("d_moy", false), ("sum_sales", true), ("avg_monthly_sales", false)),
    "tpcds_q91" -> Seq(("Call_Center", false), ("Call_Center_Name", false), ("Manager", false), ("Returns_Loss", true)),
    "tpcds_q92" -> Seq(("excess_discount", true)),
    "tpcds_q93" -> Seq(("ss_customer_sk", false), ("sumsales", true)),
    "tpcds_q94" -> Seq(("order_count", false), ("ship_cost", true), ("net_profit", true)),
    "tpcds_q95" -> Seq(("order_count", false), ("ship_cost", true), ("net_profit", true)),
    "tpcds_q97" -> Seq(("store_only", true), ("catalog_only", true), ("store_and_catalog", true)),
    "tpcds_q98" -> Seq(("i_item_id", false), ("i_item_desc", false), ("i_category", false), ("i_class", false), ("i_current_price", false), ("itemrevenue", true), ("revenueratio", false)),
    "tpcds_q99" -> Seq(("wh", false), ("sm_type", false), ("cc_name", false), ("d_le_30", true), ("d_31_60", true), ("d_61_90", true), ("d_91_120", true), ("d_gt_120", true)))
}
