-- Expected result of q15_hll_users: the catalog's oracle SQL for it.
SELECT COUNT(DISTINCT user_id) AS n_exact, TRUE AS within_band FROM events
