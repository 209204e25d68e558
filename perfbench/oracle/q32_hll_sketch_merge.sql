-- Expected result of q32_hll_sketch_merge: the catalog's oracle SQL for it.
SELECT COUNT(DISTINCT user_id) AS n_exact, TRUE AS merge_eq_direct,
      TRUE AS within_band FROM events
