-- Expected result of q173_corpus_publish_provenance: the catalog's oracle SQL for it, with MATERIALIZED
-- added to the CTEs it reads more than once (same rows, a fraction of the time).
WITH RECURSIVE
      snip AS MATERIALIZED (SELECT array_to_string((string_split_regex(trim(text), '\s+'))[1:6], ' ') AS s
               FROM documents WHERE doc_id % 13 = 3 ORDER BY doc_id LIMIT 1),
      base AS MATERIALIZED (SELECT doc_id, text FROM documents WHERE doc_id % 13 <> 3),
      uni AS MATERIALIZED (SELECT doc_id, text FROM base
        UNION ALL SELECT doc_id + 1000000, text || ' ' || (SELECT s FROM snip)
          FROM base WHERE doc_id % 10 = 4
        UNION ALL SELECT doc_id + 2000000, text FROM base WHERE doc_id % 10 = 7),
      toks AS MATERIALIZED (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM uni),
      sh6 AS MATERIALIZED (SELECT doc_id, unnest(CASE WHEN len(t) >= 6
          THEN list_distinct([array_to_string(t[i:i+5], ' ') for i in range(1, len(t) - 4)])
          ELSE [array_to_string(t, ' ')] END) AS g FROM toks),
      btoks AS MATERIALIZED (SELECT string_split_regex(trim(text), '\s+') AS t
                FROM documents WHERE doc_id % 13 = 3),
      bg AS MATERIALIZED (SELECT DISTINCT unnest(CASE WHEN len(t) >= 6
          THEN list_distinct([array_to_string(t[i:i+5], ' ') for i in range(1, len(t) - 4)])
          ELSE [array_to_string(t, ' ')] END) AS g FROM btoks),
      c1 AS MATERIALIZED (SELECT DISTINCT doc_id FROM sh6 WHERE g IN (SELECT g FROM bg)),
      sh3 AS MATERIALIZED (SELECT doc_id, CASE WHEN len(t) >= 3
          THEN list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t) - 1)])
          ELSE [array_to_string(t, ' ')] END AS g FROM toks
        WHERE doc_id NOT IN (SELECT doc_id FROM c1)),
      sg AS MATERIALIZED (SELECT doc_id, unnest(g) AS g FROM sh3),
      sz AS MATERIALIZED (SELECT doc_id, COUNT(*) AS n FROM sg GROUP BY doc_id),
      i AS MATERIALIZED (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS i
            FROM sg a JOIN sg b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2),
      p AS MATERIALIZED (SELECT da AS a, db AS b
            FROM i JOIN sz sa ON da = sa.doc_id JOIN sz sb ON db = sb.doc_id
            WHERE CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) >= 0.8),
      edges AS MATERIALIZED (SELECT a, b FROM p UNION SELECT b, a FROM p),
      reach(v, w) AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.v, e.b FROM reach r JOIN edges e ON r.w = e.a),
      cl AS MATERIALIZED (SELECT v AS doc_id, LEAST(v, MIN(w)) AS rep FROM reach GROUP BY v),
      qn AS MATERIALIZED (SELECT doc_id, len(string_split_regex(trim(text), '\s+')) AS n_tokens FROM uni),
      rn AS (SELECT cl.doc_id, cl.rep, row_number() OVER (PARTITION BY cl.rep
              ORDER BY qn.n_tokens DESC, cl.doc_id) AS rn
             FROM cl JOIN qn USING (doc_id)),
      el AS (SELECT rep, doc_id AS e FROM rn WHERE rn = 1),
      cm AS (SELECT cl.doc_id, el.e FROM cl JOIN el USING (rep))
      SELECT u.doc_id,
        CASE WHEN u.doc_id IN (SELECT doc_id FROM c1) THEN 'contaminated'
             WHEN cm.e IS NOT NULL AND cm.e <> u.doc_id THEN 'dup'
             ELSE 'kept' END AS status,
        CAST(CASE WHEN u.doc_id IN (SELECT doc_id FROM c1) THEN -1
             ELSE COALESCE(cm.e, u.doc_id) END AS BIGINT) AS rep
      FROM uni u LEFT JOIN cm ON cm.doc_id = u.doc_id
      ORDER BY u.doc_id
