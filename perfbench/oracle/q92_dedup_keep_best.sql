-- Expected result of q92_dedup_keep_best: the catalog's oracle SQL for it, with MATERIALIZED
-- added to the CTEs it reads more than once (same rows, a fraction of the time).
WITH RECURSIVE
      toks AS MATERIALIZED (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents),
      sh AS MATERIALIZED (SELECT doc_id, CASE WHEN len(t) >= 3
          THEN list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t) - 1)])
          ELSE [array_to_string(t, ' ')] END AS g FROM toks),
      sg AS MATERIALIZED (SELECT doc_id, unnest(g) AS g FROM sh),
      sz AS MATERIALIZED (SELECT doc_id, COUNT(*) AS n FROM sg GROUP BY doc_id),
      i AS MATERIALIZED (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS i
            FROM sg a JOIN sg b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2),
      pairs AS MATERIALIZED (SELECT da AS a, db AS b
                FROM i JOIN sz sa ON da = sa.doc_id JOIN sz sb ON db = sb.doc_id
                WHERE CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) >= 0.8),
      edges AS MATERIALIZED (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
      reach(v, w) AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.v, e.b FROM reach r JOIN edges e ON r.w = e.a),
      cl AS MATERIALIZED (SELECT v AS doc_id, MIN(w) AS rep FROM reach GROUP BY v),
      q AS MATERIALIZED (SELECT doc_id, CAST(len(string_split_regex(trim(text), '\s+')) AS INTEGER) AS n_tokens
            FROM documents),
      w AS (SELECT doc_id FROM (
              SELECT cl.doc_id, row_number() OVER (
                PARTITION BY cl.rep ORDER BY q.n_tokens DESC, cl.doc_id) AS rn
              FROM cl JOIN q USING (doc_id)) WHERE rn = 1),
      keep AS (SELECT d.doc_id FROM documents d
               WHERE d.doc_id NOT IN (SELECT doc_id FROM cl)
               UNION ALL SELECT doc_id FROM w)
      SELECT d.doc_id, d.source, q.n_tokens
      FROM documents d JOIN q USING (doc_id) JOIN keep USING (doc_id)
      ORDER BY d.doc_id
