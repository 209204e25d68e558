-- Expected result of q113_bm25: the catalog's oracle SQL for it.
WITH ct AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS l FROM documents),
      dl AS (SELECT doc_id, CAST(len(l) AS BIGINT) AS dl FROM ct),
      st AS (SELECT CAST(SUM(dl) AS BIGINT) AS t, CAST(COUNT(*) AS BIGINT) AS n FROM dl),
      p AS (SELECT doc_id, unnest(l) AS term FROM ct),
      pf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM p GROUP BY doc_id, term),
      dfr AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM pf GROUP BY term),
      q0 AS (SELECT doc_id AS query_id, unnest(string_split_regex(trim(text), '\s+')) AS term
             FROM documents WHERE doc_id < 3),
      qt AS (SELECT DISTINCT query_id, term FROM q0),
      idf AS (SELECT term,
               4096 + (2 * (SELECT n FROM st) - 2 * df + 1) * 4096 // (2 * df + 1) AS r
              FROM dfr),
      idfq AS (SELECT term,
               (length(bin(r)) - 1) * 16 + ((r * 16) >> (length(bin(r)) - 1)) - 16 - 192 AS idf_q
              FROM idf),
      sc AS (SELECT qt.query_id, pf.doc_id,
               CAST(SUM(idfq.idf_q *
                 ((44 * pf.tf * st.t * 16) //
                  (20 * pf.tf * st.t + 6 * st.t + 18 * dl.dl * st.n))) AS BIGINT) AS score
             FROM qt
             JOIN pf ON qt.term = pf.term
             JOIN idfq ON qt.term = idfq.term
             JOIN dl ON dl.doc_id = pf.doc_id
             CROSS JOIN st
             GROUP BY qt.query_id, pf.doc_id),
      r AS (SELECT query_id, doc_id, score,
              row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rnk
            FROM sc WHERE score > 0)
      SELECT query_id, CAST(rnk AS INTEGER) AS rnk, doc_id, score
      FROM r WHERE rnk <= 5 ORDER BY query_id, rnk
