package graft.analytics

/** The reference's analytical centerpiece: the per-profile weekly weight
  * query (`/root/reference/bin/modelling/arima_models.py:63-146`; identical
  * in `holt_model.py` / `simp_avg_model.py`) — three per-source CTEs
  * (J1–J8 joins), UNION ALL (U1), group-sum (A4), ORDER BY (O1).
  *
  * In the reference this SQL ran inside Postgres (S5); here Catalyst owns
  * parse→analyze→optimize→execute. The dimension joins (`items`,
  * `coffee_profiles`) auto-broadcast below the 10 MB threshold; at 100 TB
  * the three fact scans dominate, each reduced map-side by partial
  * aggregation before the (profile, week) exchange.
  *
  * The ambiguous unqualified `created_at > '2017-10-1'` of the reference
  * (`arima_models.py:90`; SURVEY §7.4.6) is qualified to the fact table.
  * The cast-joins on shopify/quickbooks ids (`:101,116`) are kept verbatim.
  */
object WeeklyDemand {

  val sql: String =
    """
      |WITH square_weekly AS (
      |  SELECT p.profile_name,
      |         date_trunc('week', sq.created_at) AS week_date,
      |         SUM(i.weight * sqdt.quantity)     AS total_weight
      |  FROM square_trans sq
      |  LEFT JOIN square_trans_details sqdt ON sq.payment_id = sqdt.payment_id
      |  LEFT JOIN items i                   ON sqdt.square_id = i.square_id
      |  JOIN coffee_profiles p              ON i.profile_id = p.profile_id
      |  WHERE p.active = 1 AND sq.created_at > '2017-10-01'
      |  GROUP BY p.profile_name, date_trunc('week', sq.created_at)
      |),
      |shopify_weekly AS (
      |  SELECT p.profile_name,
      |         date_trunc('week', sh.created_at) AS week_date,
      |         SUM(i.weight * shdt.quantity)     AS total_weight
      |  FROM shopify_trans sh
      |  LEFT JOIN shopify_trans_details shdt ON sh.order_id = shdt.order_id
      |  LEFT JOIN items i                    ON shdt.shopify_id = CAST(i.shopify_id AS string)
      |  JOIN coffee_profiles p               ON i.profile_id = p.profile_id
      |  WHERE p.active = 1 AND sh.created_at > '2017-10-01'
      |  GROUP BY p.profile_name, date_trunc('week', sh.created_at)
      |),
      |quickbooks_weekly AS (
      |  SELECT p.profile_name,
      |         date_trunc('week', qb.created_at) AS week_date,
      |         SUM(i.weight * qbdt.quantity)     AS total_weight
      |  FROM qb_trans qb
      |  LEFT JOIN qb_trans_details qbdt ON qb.payment_id = qbdt.payment_id
      |  LEFT JOIN items i               ON qbdt.quickbooks_id = CAST(i.quickbooks_id AS string)
      |  JOIN coffee_profiles p          ON i.profile_id = p.profile_id
      |  WHERE p.active = 1 AND qb.created_at > '2017-10-01'
      |  GROUP BY p.profile_name, date_trunc('week', qb.created_at)
      |)
      |SELECT u2.profile_name, u2.week_date, SUM(u2.total_weight) AS weight
      |FROM (
      |  SELECT * FROM (
      |    SELECT * FROM shopify_weekly
      |    UNION ALL
      |    SELECT * FROM square_weekly
      |  ) u1
      |  UNION ALL
      |  SELECT * FROM quickbooks_weekly
      |) u2
      |GROUP BY u2.profile_name, u2.week_date
      |ORDER BY u2.profile_name, u2.week_date
      |""".stripMargin
}
