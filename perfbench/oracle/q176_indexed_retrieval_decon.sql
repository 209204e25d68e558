-- Expected result of q176_indexed_retrieval_decon: the catalog's oracle SQL for it.
WITH tr AS (SELECT * FROM documents WHERE doc_id % 100 <> 0),
      ev AS (SELECT * FROM documents WHERE doc_id % 100 = 0),
      ct AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS l FROM tr),
      dl AS (SELECT doc_id, CAST(len(l) AS BIGINT) AS dl FROM ct),
      st AS (SELECT CAST(SUM(dl) AS BIGINT) AS t, CAST(COUNT(*) AS BIGINT) AS n FROM dl),
      p AS (SELECT doc_id, unnest(l) AS term FROM ct),
      pf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM p GROUP BY doc_id, term),
      dfr AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM pf GROUP BY term),
      q0 AS (SELECT doc_id AS query_id, unnest(string_split_regex(trim(text), '\s+')) AS term FROM ev),
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
      fl AS (SELECT DISTINCT doc_id FROM sc WHERE score > 0 AND score >= 2500)
      SELECT source, COUNT(*) AS n_docs, CAST(SUM(doc_id) AS BIGINT) AS id_sum
      FROM tr WHERE doc_id NOT IN (SELECT doc_id FROM fl)
      GROUP BY source ORDER BY source
