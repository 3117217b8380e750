package graft.queries

import graft.Tables
import graft.functions.TextFunctions
import graft.operators.{Dedup, Eager, Generations, Packing, Similarity}
import graft.streaming.{IndexMaintenance, RetrievalStream, StreamingDedup}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus LIFECYCLE queries (VERDICT r12 #1/#2): the operations a
  * 100 TB corpus needs BETWEEN builds — targeted deletion across every
  * persisted store (q205) and delta-driven incremental refresh (q206).
  * Both are verified the strongest way available: the Spark side
  * mutates real on-disk stores and reads them back; the DuckDB oracle
  * recomputes each readout FROM SCRATCH over the surviving/new corpus —
  * a hash match proves the incremental path ≡ the rebuild.
  */
object LifecycleOps {

  /** DuckDB tokenizer twin (TextOps.T). */
  private val T = "list_filter(string_split_regex(text, '\\s+'), t -> len(t) > 0)"

  /** Deletion set: doc_id % 13 = 5 (~7.7% of the corpus). */
  private val DelPred = "doc_id % 13 = 5"

  /** Serialize-sort-md5 fingerprint of a readout frame — one audit row
    * per store so the whole multi-store parity is one hash check.
    * Spark twin of `md5(coalesce(string_agg(r, '|' ORDER BY r), ''))`.
    */
  private def fpRow(df: DataFrame, store: String, rowStr: Column): DataFrame =
    df.select(rowStr.as("r"))
      .agg(count(lit(1)).as("n_rows"),
        md5(array_join(array_sort(collect_list(col("r"))), "|")).as("fp"))
      .select(lit(store).as("store"), col("n_rows"), col("fp"))

  /** The oracle-side fingerprint SELECT over a CTE exposing `r`. */
  private def fpSql(store: String, from: String): String =
    s"SELECT '$store' AS store, CAST(count(*) AS BIGINT) AS n_rows, " +
      s"md5(coalesce(string_agg(r, '|' ORDER BY r), ''))" +
      s" AS fp FROM $from"

  /** Fresh scratch dir per (query, sf): deletes any prior state first —
    * the batch-id guards refuse writes into a store already holding
    * higher ids, so a bench re-run must start from empty.
    */
  private def scratch(spark: SparkSession, sfDir: String, tag: String): String = {
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_lifecycle/" +
      s"$tag/${new java.io.File(sfDir).getName}"
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    dir
  }

  // -------------------------------------------------------------------
  // q205 oracle: five rebuild-from-scratch chains over the survivors
  // -------------------------------------------------------------------

  private def q205Sql: String = {
    val F = Dedup.PortableHashFamily
    val (perms, bands, rpb) = (16, 4, 4)
    val mins = (0 until perms)
      .map(i => s"min(${F.permuteSql("h", i)}) AS m$i").mkString(",\n  ")
    val bandRows = (0 until bands).map { b =>
      val cols = (b * rpb until (b + 1) * rpb).map(i => s"m$i").mkString(", ")
      s"SELECT doc_id, $b AS band, concat_ws(',', $cols) AS bucket FROM mh_sig"
    }.mkString("\n  UNION ALL ")
    val shingles =
      """CASE WHEN len(tk) = 0 THEN []
        |     ELSE list_distinct(list_transform(generate_series(1, greatest(len(tk) - 2, 1)),
        |       i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2]))) END""".stripMargin
    s"""WITH sdocs AS MATERIALIZED (
       |  SELECT doc_id, text FROM documents WHERE NOT ($DelPred)),
       |-- A. BM25 over the surviving corpus (q109's chain)
       |bq AS (SELECT CAST(a AS BIGINT) AS qid, b AS term
       |  FROM (VALUES (1,'hash'),(1,'join'),(2,'window'),(2,'agg'),
       |               (3,'spark'),(3,'stream'),(3,'data')) v(a, b)),
       |btoks AS (SELECT doc_id, $T AS tk FROM sdocs),
       |bposting AS (
       |  SELECT doc_id, t AS term, count(*) AS tf
       |  FROM (SELECT doc_id, unnest(tk) AS t FROM btoks) GROUP BY 1, 2),
       |bdl AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl FROM btoks),
       |btot AS (SELECT count(*) AS n, CAST(sum(len(tk)) AS BIGINT) AS total
       |         FROM btoks),
       |bdft AS (
       |  SELECT term, count(*) AS df FROM bposting
       |  WHERE term IN (SELECT DISTINCT term FROM bq) GROUP BY 1),
       |bidf AS (
       |  SELECT term,
       |    CAST(floor(ln(CAST(2 * btot.n + 2 AS DOUBLE) / (2 * df + 1))
       |      * 1000000.0 + 0.5) AS BIGINT) AS idf_u
       |  FROM bdft CROSS JOIN btot),
       |bcontrib AS (
       |  SELECT bq.qid, p.doc_id,
       |    (bidf.idf_u * 22 * p.tf * t.total)
       |      // (10 * p.tf * t.total + 3 * t.total + 9 * bdl.dl * t.n) AS c
       |  FROM bq JOIN bposting p USING (term) JOIN bidf USING (term)
       |  JOIN bdl ON bdl.doc_id = p.doc_id CROSS JOIN btot t),
       |bscore AS (SELECT qid, doc_id, CAST(sum(c) AS BIGINT) AS score_u
       |           FROM bcontrib GROUP BY 1, 2),
       |branked AS (
       |  SELECT qid, doc_id, score_u,
       |    row_number() OVER (PARTITION BY qid
       |      ORDER BY score_u DESC, doc_id) AS rnk
       |  FROM bscore),
       |b_r AS (SELECT concat_ws(':', qid, doc_id, score_u, rnk) AS r
       |        FROM branked WHERE rnk <= 10),
       |-- B. segment screen of the deleted docs RE-INGESTED (w=16):
       |-- kept = first batch occurrence of a digest not seen among the
       |-- survivors (the forgotten-content readout)
       |sg_st AS (SELECT doc_id, $T AS tk FROM sdocs),
       |sg_sg AS (
       |  SELECT doc_id, tk,
       |    unnest(generate_series(0, CAST(ceil(len(tk)/16.0) AS BIGINT) - 1)) AS idx
       |  FROM sg_st WHERE len(tk) > 0),
       |sg_seen AS (
       |  SELECT DISTINCT md5(array_to_string(tk[idx*16+1 : idx*16+16], ' ')) AS h
       |  FROM sg_sg),
       |sg_probe AS (
       |  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE $DelPred),
       |sg_pt AS (SELECT doc_id, $T AS tk FROM sg_probe),
       |sg_pg AS (
       |  SELECT doc_id, tk,
       |    unnest(generate_series(0, CAST(ceil(len(tk)/16.0) AS BIGINT) - 1)) AS idx
       |  FROM sg_pt WHERE len(tk) > 0),
       |sg_ps AS (
       |  SELECT doc_id, idx,
       |    array_to_string(tk[idx*16+1 : idx*16+16], ' ') AS seg
       |  FROM sg_pg),
       |sg_k AS (
       |  SELECT doc_id, idx, seg, md5(seg) AS h,
       |    row_number() OVER (PARTITION BY md5(seg) ORDER BY doc_id, idx) AS rn
       |  FROM sg_ps),
       |sg_kept AS (
       |  SELECT doc_id, idx, seg FROM sg_k
       |  WHERE rn = 1 AND h NOT IN (SELECT h FROM sg_seen)),
       |sg_a AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
       |    string_agg(seg, ' ' ORDER BY idx) AS kept_text
       |  FROM sg_kept GROUP BY doc_id),
       |sg_r AS (
       |  SELECT concat_ws(':', p.doc_id,
       |    CAST(ceil(len(tk)/16.0) AS BIGINT),
       |    coalesce(a.n_kept, 0), md5(coalesce(a.kept_text, ''))) AS r
       |  FROM sg_pt p LEFT JOIN sg_a a USING (doc_id)),
       |-- C. shard manifest of the surviving corpus (q93's chain)
       |sh_c AS (SELECT doc_id, $T AS tk FROM sdocs),
       |sh_n AS (SELECT doc_id, tk, CAST(len(tk) AS BIGINT) AS n FROM sh_c),
       |sh_o AS (
       |  SELECT doc_id, tk, n,
       |    CAST(coalesce(sum(n) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |      AS off
       |  FROM sh_n),
       |sh_g AS (
       |  SELECT doc_id, off, unnest(generate_series(1, n)) AS i, tk
       |  FROM sh_o WHERE n > 0),
       |sh_tok AS (SELECT off + i - 1 AS gpos, tk[i] AS tok FROM sh_g),
       |sh_chunks AS (
       |  SELECT gpos // 256 AS chunk_id, CAST(count(*) AS BIGINT) AS n_tokens,
       |    md5(string_agg(tok, ' ' ORDER BY gpos)) AS chunk_fp
       |  FROM sh_tok GROUP BY 1),
       |sh_man AS (
       |  SELECT chunk_id // 4 AS shard_id, CAST(count(*) AS BIGINT) AS n_chunks,
       |    CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       |    md5(string_agg(chunk_fp, ' ' ORDER BY chunk_id)) AS shard_fp
       |  FROM sh_chunks GROUP BY 1),
       |sh_r AS (SELECT concat_ws(':', shard_id, n_chunks, n_tokens, shard_fp)
       |           AS r FROM sh_man),
       |-- D. IVF cell store: frozen centroids from the FULL corpus
       |-- (deletion never refits the quantizer), cells/search over the
       |-- survivors (q185's chain)
       |cv AS (SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS ne
       |       FROM embeddings WHERE vec_id % 13 <> 5),
       |ccents AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS ce
       |           FROM embeddings
       |           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 12),
       |cassign AS (
       |  SELECT nid, ne, cid,
       |    list_dot_product(ce, ce) - 2 * list_dot_product(ne, ce) AS dist
       |  FROM cv CROSS JOIN ccents),
       |ccells AS (
       |  SELECT nid, ne, cid AS cell FROM (
       |    SELECT *, row_number() OVER (PARTITION BY nid ORDER BY dist, cid) AS rn
       |    FROM cassign) WHERE rn = 1),
       |cq AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe
       |       FROM embeddings WHERE vec_id < 10 AND vec_id % 13 <> 5),
       |cqassign AS (
       |  SELECT qid, qe, cid,
       |    list_dot_product(ce, ce) - 2 * list_dot_product(qe, ce) AS dist
       |  FROM cq CROSS JOIN ccents),
       |cprobes AS (
       |  SELECT qid, qe, cid AS cell FROM (
       |    SELECT *, row_number() OVER (PARTITION BY qid ORDER BY dist, cid) AS rn
       |    FROM cqassign) WHERE rn <= 3),
       |cscored AS (
       |  SELECT qid, cprobes.cell AS cell, nid,
       |    list_cosine_similarity(qe, ne) AS cos
       |  FROM cprobes JOIN ccells ON cprobes.cell = ccells.cell
       |  WHERE qid <> nid),
       |cranked AS (
       |  SELECT qid, cell, nid,
       |    CAST(floor(cos * 10000.0 + 0.5) AS BIGINT) AS cos_u,
       |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank
       |  FROM cscored),
       |c_r AS (SELECT concat_ws(':', qid, cell, nid, cos_u, rank) AS r
       |        FROM cranked WHERE rank <= 3),
       |-- E. MinHash screen: survivors (original ids) + re-ingested
       |-- deleted docs (id+1000000) as the new side (q63's chain)
       |mh_docs AS (
       |  SELECT doc_id, text FROM sdocs
       |  UNION ALL
       |  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE $DelPred),
       |mh_toks AS (SELECT doc_id, $T AS tk FROM mh_docs),
       |mh_sh AS (SELECT doc_id, $shingles AS shingles FROM mh_toks),
       |mh_post AS (SELECT doc_id, unnest(shingles) AS s FROM mh_sh),
       |mh_h AS (SELECT doc_id, ${F.firstLevelSql("s")} AS h FROM mh_post),
       |mh_sig AS (SELECT doc_id,
       |  $mins
       |  FROM mh_h GROUP BY doc_id),
       |mh_bnd AS ($bandRows),
       |mh_tag AS (SELECT doc_id, band, bucket, (doc_id >= 1000000) AS is_new
       |           FROM mh_bnd),
       |mh_small AS (SELECT band, bucket FROM mh_tag
       |             GROUP BY band, bucket HAVING count(*) <= 100000),
       |mh_kept AS (SELECT t.* FROM mh_tag t JOIN mh_small USING (band, bucket)),
       |mh_pairs AS (
       |  SELECT least(a.doc_id, b.doc_id) AS id_a,
       |    greatest(a.doc_id, b.doc_id) AS id_b,
       |    CAST(count(*) AS BIGINT) AS nb
       |  FROM mh_kept a JOIN mh_kept b
       |    ON a.band = b.band AND a.bucket = b.bucket
       |   AND b.is_new AND a.doc_id <> b.doc_id
       |   AND (NOT a.is_new OR a.doc_id < b.doc_id)
       |  GROUP BY 1, 2),
       |mh_r AS (SELECT concat_ws(':', id_a, id_b, nb) AS r FROM mh_pairs)
       |${fpSql("bm25", "b_r")}
       |UNION ALL ${fpSql("segment_screen", "sg_r")}
       |UNION ALL ${fpSql("shards", "sh_r")}
       |UNION ALL ${fpSql("cell_store", "c_r")}
       |UNION ALL ${fpSql("minhash_screen", "mh_r")}""".stripMargin
  }

  // -------------------------------------------------------------------
  // q206: the refresh pipeline (dedup → quality gate → mix → pack) as a
  // parametrized oracle chain, instantiated over snapshot A and B
  // -------------------------------------------------------------------

  /** The refresh pipeline over a `(doc_id, text, lang)` CTE as DuckDB
    * CTE text: content-fingerprint exact dedup (keep min id) → q97
    * integer quality gate (score ≥ 0 — the published per-doc rule, so
    * gate membership never couples documents) → fixed-rate 90% hash mix
    * → append-ordered concat-and-chunk pack → 4-chunk manifest. The one
    * corpus-GLOBAL stage is the dedup keep-first: a deleted/changed doc
    * can release a duplicate elsewhere — exactly the coupling the
    * incremental path must get right. Exposes `<p>dd`, `<p>gated`,
    * `<p>mixed`, `<p>man`.
    */
  private def refreshChainSql(src: String, p: String): String =
    s"""${p}fp AS (
       |  SELECT doc_id, lang, text,
       |    md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
       |  FROM $src),
       |${p}dd AS (
       |  SELECT doc_id, lang, text FROM (
       |    SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
       |    FROM ${p}fp) WHERE rn = 1),
       |${p}q AS (
       |  SELECT doc_id, lang, text,
       |    CAST(-3000000 - 40000*len($T) + 200000*len(list_distinct($T))
       |      + 2000*len(regexp_replace(text, '\\s', '', 'g'))
       |      + 300000*len(list_filter($T,
       |          t -> t IN ('the','a','an','of','and','in','to','is','it','that')))
       |      AS BIGINT) AS score
       |  FROM ${p}dd),
       |${p}gated AS (SELECT doc_id, lang, text FROM ${p}q WHERE score >= 0),
       |${p}mixed AS (
       |  SELECT * FROM ${p}gated
       |  WHERE CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
       |          AS BIGINT) % 1000000 < 900000),
       |${p}pk AS (
       |  SELECT lpad(CAST(doc_id AS VARCHAR), 10, '0') AS okey, $T AS tk
       |  FROM ${p}mixed),
       |${p}cn AS (SELECT okey, tk, CAST(len(tk) AS BIGINT) AS n FROM ${p}pk),
       |${p}o AS (
       |  SELECT okey, tk, n,
       |    CAST(coalesce(sum(n) OVER (ORDER BY okey
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |      AS off
       |  FROM ${p}cn),
       |${p}g AS (
       |  SELECT off, unnest(generate_series(1, n)) AS i, tk
       |  FROM ${p}o WHERE n > 0),
       |${p}tok AS (SELECT off + i - 1 AS gpos, tk[i] AS tok FROM ${p}g),
       |${p}chunks AS (
       |  SELECT gpos // 256 AS chunk_id, CAST(count(*) AS BIGINT) AS n_tokens,
       |    md5(string_agg(tok, ' ' ORDER BY gpos)) AS chunk_fp
       |  FROM ${p}tok GROUP BY 1),
       |${p}man AS (
       |  SELECT chunk_id // 4 AS shard_id, CAST(count(*) AS BIGINT) AS n_chunks,
       |    CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       |    md5(string_agg(chunk_fp, ' ' ORDER BY chunk_id)) AS shard_fp
       |  FROM ${p}chunks GROUP BY 1)""".stripMargin

  /** The q206/q210/q211 snapshot pair as oracle CTEs: snapshot A = the
    * corpus minus the newest 10% of ids, with upper-30% ids at
    * % 17 = 2 perturbed, plus legacy extras (% 29 = 11, id +2000000)
    * that snapshot B (= the corpus as-is) drops.
    */
  private val SnapshotCtes: String =
    """mx AS (SELECT max(doc_id) AS m FROM documents),
      |a_docs AS MATERIALIZED (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 17 = 2 AND doc_id * 10 >= 7 * (SELECT m FROM mx)
      |         THEN text || ' draft' ELSE text END AS text,
      |    lang
      |  FROM documents WHERE doc_id * 10 < 9 * (SELECT m FROM mx)
      |  UNION ALL
      |  SELECT doc_id + 2000000 AS doc_id, text || ' legacy' AS text, lang
      |  FROM documents WHERE doc_id % 29 = 11),
      |b_docs AS MATERIALIZED (SELECT doc_id, text, lang FROM documents)"""
      .stripMargin

  /** The Spark twin of [[SnapshotCtes]]: (snapshot A, snapshot B). */
  private def snapshots(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val b = Tables.documents(s, d).select("doc_id", "text", "lang")
    val maxId = b.agg(max("doc_id")).collect()(0).getLong(0)
    // legacy extras ride synthetic ids doc_id + 2e6 — same collision
    // guard as q205's probe offset (ADVICE r13)
    require(maxId < 2000000L,
      s"legacy-id offset 2000000 collides: max doc_id = $maxId")
    val a = b.filter(col("doc_id") * 10 < lit(9L * maxId))
      .select(col("doc_id"),
        when(pmod(col("doc_id"), lit(17)) === 2 &&
            col("doc_id") * 10 >= lit(7L * maxId),
          concat(col("text"), lit(" draft"))).otherwise(col("text"))
          .as("text"),
        col("lang"))
      .unionByName(b.filter(pmod(col("doc_id"), lit(29)) === 11)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          concat(col("text"), lit(" legacy")).as("text"), col("lang")))
    (a, b)
  }

  private def q206Sql: String =
    s"""WITH $SnapshotCtes,
       |${refreshChainSql("a_docs", "a_")},
       |${refreshChainSql("b_docs", "b_")},
       |fo AS (
       |  SELECT coalesce(b.shard_id, a.shard_id) AS shard_id,
       |    coalesce(b.n_chunks, a.n_chunks) AS n_chunks,
       |    coalesce(b.n_tokens, a.n_tokens) AS n_tokens,
       |    coalesce(b.shard_fp, a.shard_fp) AS shard_fp,
       |    CASE WHEN b.shard_fp IS NULL THEN 'removed'
       |         WHEN a.shard_fp IS NULL THEN 'added'
       |         WHEN b.shard_fp = a.shard_fp THEN 'kept'
       |         ELSE 'rewritten' END AS status
       |  FROM a_man a FULL OUTER JOIN b_man b ON a.shard_id = b.shard_id),
       |counts AS (SELECT
       |  (SELECT count(*) FROM b_docs) AS n_b,
       |  CAST(0 AS BIGINT) AS n_masked,
       |  (SELECT count(*) FROM documents
       |     WHERE doc_id * 10 >= 9 * (SELECT m FROM mx)
       |        OR (doc_id % 17 = 2 AND doc_id * 10 >= 7 * (SELECT m FROM mx)))
       |    AS n_delta,
       |  (SELECT count(*) FROM documents WHERE doc_id % 29 = 11) AS n_removed,
       |  (SELECT count(*) FROM b_dd) AS n_dedup,
       |  (SELECT count(*) FROM b_gated) AS n_gated,
       |  (SELECT count(*) FROM b_mixed) AS n_mixed)
       |SELECT fo.*, counts.* FROM fo CROSS JOIN counts""".stripMargin

  /** q210 oracle: both snapshots rebuilt from scratch; the result is
    * the ROLLED-BACK (A) manifest with the per-shard status of the
    * rollback direction — new side = A, old side = the B state the
    * rollback replaced.
    */
  private def q210Sql: String =
    s"""WITH $SnapshotCtes,
       |${refreshChainSql("a_docs", "a_")},
       |${refreshChainSql("b_docs", "b_")},
       |fo AS (
       |  SELECT coalesce(a.shard_id, b.shard_id) AS shard_id,
       |    coalesce(a.n_chunks, b.n_chunks) AS n_chunks,
       |    coalesce(a.n_tokens, b.n_tokens) AS n_tokens,
       |    coalesce(a.shard_fp, b.shard_fp) AS shard_fp,
       |    CASE WHEN a.shard_fp IS NULL THEN 'removed'
       |         WHEN b.shard_fp IS NULL THEN 'added'
       |         WHEN a.shard_fp = b.shard_fp THEN 'kept'
       |         ELSE 'rewritten' END AS status
       |  FROM b_man b FULL OUTER JOIN a_man a ON a.shard_id = b.shard_id)
       |SELECT fo.*, CAST(3 AS BIGINT) AS n_generations FROM fo""".stripMargin

  /** q211 oracle: rebuild-from-scratch on (A minus D) and (B minus D)
    * where D = the tombstoned id SET (every A doc with id % 23 = 7 —
    * note "id IN A": a brand-new B doc matching the predicate was
    * never deleted and stays in). The final manifest, the per-shard
    * status of the composed refresh, and the funnel all derive from
    * those masked chains.
    */
  private def q211Sql: String =
    s"""WITH $SnapshotCtes,
       |ad_docs AS MATERIALIZED (
       |  SELECT doc_id, text, lang FROM a_docs WHERE doc_id % 23 <> 7),
       |bd_docs AS MATERIALIZED (
       |  SELECT doc_id, text, lang FROM b_docs
       |  WHERE NOT (doc_id % 23 = 7
       |    AND doc_id IN (SELECT doc_id FROM a_docs))),
       |${refreshChainSql("ad_docs", "ad_")},
       |${refreshChainSql("bd_docs", "bd_")},
       |fo AS (
       |  SELECT coalesce(nb.shard_id, oa.shard_id) AS shard_id,
       |    coalesce(nb.n_chunks, oa.n_chunks) AS n_chunks,
       |    coalesce(nb.n_tokens, oa.n_tokens) AS n_tokens,
       |    coalesce(nb.shard_fp, oa.shard_fp) AS shard_fp,
       |    CASE WHEN nb.shard_fp IS NULL THEN 'removed'
       |         WHEN oa.shard_fp IS NULL THEN 'added'
       |         WHEN nb.shard_fp = oa.shard_fp THEN 'kept'
       |         ELSE 'rewritten' END AS status
       |  FROM ad_man oa FULL OUTER JOIN bd_man nb
       |    ON oa.shard_id = nb.shard_id),
       |counts AS (SELECT
       |  (SELECT count(*) FROM b_docs) AS n_b,
       |  (SELECT count(*) FROM b_docs WHERE doc_id % 23 = 7
       |     AND doc_id IN (SELECT doc_id FROM a_docs)) AS n_masked,
       |  (SELECT count(*) FROM bd_docs nd LEFT JOIN ad_docs od
       |     USING (doc_id)
       |     WHERE od.doc_id IS NULL OR (od.text = nd.text) IS NOT TRUE)
       |    AS n_delta,
       |  (SELECT count(*) FROM ad_docs
       |     WHERE doc_id NOT IN (SELECT doc_id FROM bd_docs)) AS n_removed,
       |  (SELECT count(*) FROM bd_dd) AS n_dedup,
       |  (SELECT count(*) FROM bd_gated) AS n_gated,
       |  (SELECT count(*) FROM bd_mixed) AS n_mixed,
       |  (SELECT count(*) FROM a_docs WHERE doc_id % 23 = 7)
       |    AS n_tombstoned)
       |SELECT fo.*, counts.* FROM fo CROSS JOIN counts""".stripMargin

  /** q212 oracle: the generation-history datasheet derived from the
    * two from-scratch chains — generation 0 (built from A), 1
    * (refreshed to B), 2 (rolled back to A): per generation the packed
    * doc count, packed token total, shard count, shard token total,
    * and the order-pinned manifest fingerprint (gen 2's row must equal
    * gen 0's except the generation number — rollback restored the
    * recorded state bit-for-bit).
    */
  private def q212Sql: String = {
    def gen(g: Int, p: String): String =
      s"""SELECT CAST($g AS BIGINT) AS generation,
         |  (SELECT CAST(count(*) AS BIGINT) FROM ${p}cn) AS n_docs,
         |  (SELECT CAST(coalesce(sum(n), 0) AS BIGINT) FROM ${p}cn)
         |    AS n_doc_tokens,
         |  (SELECT CAST(count(*) AS BIGINT) FROM ${p}man) AS n_shards,
         |  (SELECT CAST(coalesce(sum(n_tokens), 0) AS BIGINT) FROM ${p}man)
         |    AS n_shard_tokens,
         |  (SELECT md5(string_agg(shard_fp, ' ' ORDER BY shard_id))
         |   FROM ${p}man) AS manifest_fp""".stripMargin
    s"""WITH $SnapshotCtes,
       |${refreshChainSql("a_docs", "a_")},
       |${refreshChainSql("b_docs", "b_")}
       |${gen(0, "a_")}
       |UNION ALL ${gen(1, "b_")}
       |UNION ALL ${gen(2, "a_")}""".stripMargin
  }

  /** Per-doc artifact stage — the HEAVY half of the refresh pipeline
    * (tokenization-bound); the incremental path runs it on the DELTA
    * only, everything corpus-global downstream being aggregates over
    * these compact rows.
    */
  private[graft] def docArtifacts(docs: DataFrame): DataFrame =
    graft.operators.Classifier.qualityClassify(docs, "text")
      .select(col("doc_id"), col("lang"), col("text"),
        TextFunctions.fingerprint(col("text")).as("fp"),
        // raw (case/whitespace-sensitive) content hash — the DIFF key.
        // The normalized `fp` above drives DEDUP; using it as the
        // refresh diff key would classify a case-only edit as
        // unchanged and leave its stale shard on disk, because the
        // chunk fingerprints hash the raw token stream (ADVICE r13)
        md5(col("text")).as("raw_fp"),
        col("score_micro"),
        coalesce(size(TextFunctions.tokens(col("text"))).cast("long"), lit(0L))
          .as("n_tokens"))

  /** The downstream stages over merged artifacts: exact dedup
    * (keep-min-id per content fingerprint — the one corpus-global
    * stage, and the coupling a refresh must get right: a removed or
    * changed doc can release a duplicate anywhere), the per-doc q97
    * gate (score ≥ 0), the fixed-rate 90% hash mix, and the
    * append-order packing key. Returns the packing input
    * (okey, tk, fp, n_tokens) plus the funnel counts — every step an
    * aggregate/filter over artifact rows; only PACKED docs tokenize.
    *
    * The returned frames are LAZY: since r14 every refresh cycle's
    * sources live in an immutable committed generation directory
    * (never overwritten mid-cycle), so the eager localCheckpoints the
    * in-place-overwrite design needed — which pinned corpus TEXT into
    * the block manager, the exact churn VERDICT r13 #4 flagged — are
    * gone. The packing key rides `n_tokens` from the artifact row, so
    * downstream consumers that never touch `tk` never tokenize.
    */
  private[graft] def globalStages(art: DataFrame): (DataFrame, DataFrame) = {
    val (dd, gateP, mixP) = packStageChain(art)
    val packIn = dd.filter(mixP).select(
      lpad(col("doc_id").cast("string"), 10, "0").as("okey"),
      TextFunctions.tokens(col("text")).as("tk"),
      col("fp"), col("raw_fp"), col("n_tokens"))
    // one pass over the dedup window for all three funnel counts
    // (gated ⊆ dd and mixed ⊆ gated are per-row predicates): three
    // chained aggregates would re-run the corpus-wide window per count
    val counts = dd.agg(count(lit(1)).as("n_dedup"),
      count(when(gateP, lit(1))).as("n_gated"),
      count(when(mixP, lit(1))).as("n_mixed"))
    (packIn, counts)
  }

  /** The dedup stage chain over merged artifacts, shared by
    * [[globalStages]] (lazy frames — the noop path) and
    * [[writePackInputObserved]] (the cycle tail's one-pass observed
    * write): the keep-min-id deduped frame plus the gate and mix
    * per-row predicates (gated ⊆ dd and mixed ⊆ gated).
    *
    * Keep-min-id dedup is an ANTI-JOIN against the loser ids instead of
    * a row_number window over the full artifact row (guide §2.3/§8:
    * decide with small rows, never shuffle the payload): the window
    * formulation carried the corpus TEXT through its fp exchange+sort
    * on every evaluation; the loser set is computed from a
    * (fp, doc_id) projection — the parquet scan prunes to two columns
    * — and duplicates are a small fraction of the corpus, so the
    * anti-join broadcasts (AQE) and the payload never enters an
    * exchange. Row set is identical: losers are exactly the rows the
    * window gave __rn > 1.
    */
  private def packStageChain(art: DataFrame): (DataFrame, Column, Column) = {
    val losers = art.select(col("fp"), col("doc_id"))
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("fp").orderBy("doc_id")))
      .filter(col("__rn") > 1).select("doc_id")
    val dd = art.join(losers, Seq("doc_id"), "left_anti")
    val gateP = col("score_micro") >= 0
    val mixP = gateP &&
      graft.operators.Sampling.hashBucket(col("doc_id"), 1000000) < 900000
    (dd, gateP, mixP)
  }

  /** ONE evaluation of the dedup pipeline per cycle (guide §1.2 "remove
    * passes", §2.3): write the packing input to `dest` while OBSERVING
    * the funnel counts (over the deduped frame) and the repack stream
    * signature (the dirty marker's order-independent identity: row
    * count + Σ xxhash64 over (okey, n_tokens, raw_fp), decimal-summed)
    * on the same pass. The pre-r16 cycle tail evaluated the store scan
    * + dedup window + anti-join THREE times (pack_input write, funnel
    * aggregate, signature aggregate over the written file); the
    * observed write runs it once — at 100 TB that is two fewer
    * corpus-store scans per cycle. Returns the 1-row counts frame
    * (literals — value-identical to the aggregate it replaces) and the
    * signature string.
    */
  private def writePackInputObserved(s: SparkSession, art: DataFrame,
      dest: String): (DataFrame, String) = {
    val (dd, gateP, mixP) = packStageChain(art)
    val funnelObs = org.apache.spark.sql.Observation()
    val ddObs = dd.observe(funnelObs, count(lit(1)).as("n_dedup"),
      count(when(gateP, lit(1))).as("n_gated"),
      count(when(mixP, lit(1))).as("n_mixed"))
    val packIn = ddObs.filter(mixP).select(
      lpad(col("doc_id").cast("string"), 10, "0").as("okey"),
      col("n_tokens"), col("fp"), col("raw_fp"))
    val sigObs = org.apache.spark.sql.Observation()
    packIn.observe(sigObs, count(lit(1)).as("n"),
        coalesce(sum(xxhash64(col("okey"), col("n_tokens"), col("raw_fp"))
            .cast("decimal(38,0)")),
          lit(0).cast("decimal(38,0)")).as("h"))
      .select(PackInputCols.map(col): _*)
      .write.mode("overwrite").parquet(dest)
    val f = funnelObs.get
    import s.implicits._
    val counts = Seq((f("n_dedup").asInstanceOf[Long],
        f("n_gated").asInstanceOf[Long], f("n_mixed").asInstanceOf[Long]))
      .toDF("n_dedup", "n_gated", "n_mixed")
    val g = sigObs.get
    val sig = s"${g("n")}:${g("h").asInstanceOf[java.math.BigDecimal]
      .toBigInteger}"
    (counts, sig)
  }

  /** Generations of tiny state kept for rollback (the big per-doc
    * artifacts frame is always pruned to the current generation only).
    */
  private[graft] val KeepGenerations = 8

  /** The packing-input columns persisted per generation — counts and
    * fingerprints, never tokens or text.
    */
  private val PackInputCols = Seq("okey", "n_tokens", "fp", "raw_fp")

  // -------------------------------------------------------------------
  // The per-doc artifact store: ONE mutable doc_id-range-partitioned
  // parquet table (`base/artifacts/part=K`, K = doc_id div width) — a
  // CONTENT-ADDRESSED CACHE of the heavy per-doc stage, never
  // versioned. Generations version only the tiny counts/fingerprint
  // frames; copying the corpus TEXT into a new generation directory
  // per cycle (the r14-first design) made every refresh a corpus-sized
  // write no matter how small the delta — the lifecycle ladder
  // measured it. Range partitioning makes a refresh rewrite ∝ its
  // delta: tail-heavy/append deltas (the realistic shape) touch only
  // the partitions their doc_ids land in, via dynamic partition
  // overwrite — the IVF cell store's exact mechanism.
  //
  // Crash safety needs no marker here: the store is keyed by raw
  // content hash, so ANY mixed state a crashed cycle leaves behind
  // self-heals — the next cycle's corpusDiff recomputes exactly the
  // rows whose raw_fp differs from ITS target and removes the ids the
  // target lacks. The store is never authoritative; the committed
  // pack_input/manifest are.
  // -------------------------------------------------------------------

  private[graft] val ArtifactCols =
    Seq("doc_id", "lang", "text", "fp", "raw_fp", "score_micro", "n_tokens")

  private def artifactsDir(base: String): String = s"$base/artifacts"

  private def partWidth(s: SparkSession, base: String): Long =
    Generations.readMarker(s, s"${artifactsDir(base)}/_PART_WIDTH")
      .map(_.toLong).getOrElse(1024L)

  private def emptyArtifacts(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq.empty[(Long, String, String, String, String, Long, Long)]
      .toDF(ArtifactCols: _*)
  }

  /** The artifact store's rows (empty-store safe, no partition column
    * — a fully-deleted corpus is a valid state). MUTABLE-store read:
    * per the read-safety rule on [[currentManifest]], frames from here
    * are cycle-internal and must be consumed before the next
    * [[flushArtifacts]] rewrites the partitions they lazily reference.
    */
  private[graft] def readArtifacts(s: SparkSession, base: String): DataFrame =
    // emptiness via the read's own AnalysisException (missing path or
    // nothing to infer a schema from), not a driver-side recursive
    // walk of every part dir — the diskManifest lesson (PERF_NOTES r15)
    try s.read.parquet(artifactsDir(base)).select(ArtifactCols.map(col): _*)
    catch {
      case _: org.apache.spark.sql.AnalysisException => emptyArtifacts(s)
    }

  /** Rewrite ONLY the artifact partitions that contain a removed id or
    * an added/recomputed row: locate affected `part=` dirs from the id
    * frames (≤ |delta| values to the driver), eagerly checkpoint the
    * affected partitions' surviving rows (they are about to be
    * overwritten — the read-then-overwrite discipline, volume ∝
    * delta × partition width), dynamic-partition-overwrite them
    * together with the new rows, and explicitly remove partitions the
    * rewrite emptied (dynamic overwrite never touches a partition
    * absent from its output). Checkpoint blocks are released by
    * tracked id afterwards.
    */
  private def flushArtifacts(s: SparkSession, base: String,
      removeIds: DataFrame, addIds: DataFrame, addArt: DataFrame): Unit = {
    val dir = artifactsDir(base)
    val w = partWidth(s, base)
    def partsOf(ids: DataFrame): DataFrame =
      ids.select(expr(s"doc_id div $w").as("part"))
    // removeIds/addIds are the callers' CHECKPOINTED small id frames —
    // deriving parts from addArt itself would re-run the delta
    // semi-join per consumer (measured seconds per cycle at 400k)
    val affected = partsOf(removeIds.select("doc_id"))
      .union(partsOf(addIds.select("doc_id")))
      .distinct().collect().map(_.getLong(0)).sorted
    if (affected.isEmpty) return
    val priorRows =
      try s.read.parquet(dir)
        .filter(col("part").isin(affected: _*))
        .select(ArtifactCols.map(col): _*)
      catch {
        case _: org.apache.spark.sql.AnalysisException => emptyArtifacts(s)
      }
    // eager survivors BEFORE the overwrite (read-then-overwrite rule),
    // released by the frame's own handle — not a registry diff, which
    // would capture a concurrent query's RDDs (ADVICE r14)
    val (survivors, releaseSurvivors) = graft.operators.Eager.checkpoint(
      priorRows
        .join(removeIds.select(col("doc_id").as("__rm")),
          col("doc_id") === col("__rm"), "left_anti")
        .join(addIds.select(col("doc_id").as("__add")),
          col("doc_id") === col("__add"), "left_anti"))
    survivors.unionByName(addArt.select(ArtifactCols.map(col): _*))
      .withColumn("part", expr(s"doc_id div $w"))
      // ONE file per partition dir: without the repartition every
      // shuffle partition emits a file into every touched part dir and
      // the store explodes into parts × tasks small files — each of
      // the cycle's store scans then pays thousands of file opens
      // (measured: the 400k refresh rung tripled)
      .repartition(col("part"))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("part").parquet(dir)
    val nonEmpty = partsOf(survivors.select("doc_id"))
      .union(partsOf(addIds.select("doc_id")))
      .distinct().collect().map(_.getLong(0)).toSet
    releaseSurvivors()
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    affected.filterNot(nonEmpty).foreach { p =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$dir/part=$p"), true)
    }
  }

  /** THE READ-SAFETY RULE (VERDICT r14 #7) for every frame crossing the
    * lifecycle API boundary — the systematic form of the prune-vs-lazy-
    * reader hazard the r14 q211 funnel hit (a lazy frame whose source
    * directory a later `prune`/`flushArtifacts` deletes):
    *
    *  - CYCLE RESULTS ([[refreshTo]]/[[deleteDocs]]/[[rollbackTo]]
    *    returns) hold their own eagerly-materialized rows — valid
    *    forever, immune to any later cycle or prune;
    *  - GENERATION READS ([[currentManifest]], [[currentPackInput]])
    *    read only the immutable committed generation of their BIRTH —
    *    valid until that generation leaves the [[KeepGenerations]]
    *    window (a consumer that outlives the window must
    *    `localCheckpoint(true)` what it keeps);
    *  - STORE READS ([[readArtifacts]]) read the MUTABLE artifact
    *    store — cycle-internal only; consume before the next flush.
    *
    * LifecycleReadSafetySpec pins all three clauses.
    */
  private[graft] def currentManifest(s: SparkSession, base: String): DataFrame =
    s.read.parquet(s"${Generations.dir(base, requireCurrent(s, base))}/manifest")

  /** See the read-safety rule on [[currentManifest]]. */
  private[graft] def currentPackInput(s: SparkSession, base: String): DataFrame =
    s.read.parquet(s"${Generations.dir(base, requireCurrent(s, base))}/pack_input")

  private def requireCurrent(s: SparkSession, base: String): Long =
    Generations.current(s, base).getOrElse(throw new IllegalStateException(
      s"no committed generation under $base — run priorBuild first"))

  /** The prior FULL build: per-doc artifacts, packing input, and
    * manifest persisted as generation 0 under `base` (committed via
    * [[Generations.commit]]), shards written to `base/shards` — the
    * durable state a later [[refreshTo]] / [[deleteDocs]] /
    * [[rollbackTo]] consumes.
    */
  private[graft] def priorBuild(s: SparkSession, base: String,
      docs: DataFrame): Unit = {
    val holder = s"build-${java.util.UUID.randomUUID()}"
    Generations.acquireLease(s, base, holder)
    try priorBuildLeased(s, base, docs)
    finally Generations.releaseLease(s, base, holder)
  }

  private def priorBuildLeased(s: SparkSession, base: String,
      docs: DataFrame): Unit = {
    // a from-scratch build into a base that already holds committed
    // generations would commit gen_0 UNDER the existing current
    // generation — refuse loudly; rebuilds start from a cleared base
    val existing = Generations.committed(s, base)
    require(existing.isEmpty,
      s"priorBuild into $base which already holds committed generations " +
        s"${existing.mkString(", ")} — refresh/rollback instead, or " +
        "clear the base for a from-scratch build")
    val groupOf = substring(col("okey"), 1, 8)
    val g0 = Generations.dir(base, 0L)
    // partition width: ~256 initial partitions, ≥1024 ids wide — new
    // ids later land in NEW partitions, so the store's partition count
    // grows with the corpus while a tail/append delta touches few dirs.
    // The same id scan carries the duplicate-id guard (count vs distinct)
    // that ESTABLISHES the store's doc_id-uniqueness invariant every
    // later cycle trusts (cycleTail's keysValidated repack)
    val idStats = docs.agg(coalesce(max("doc_id"), lit(0L)).as("m"),
      count(lit(1)).as("n"), countDistinct(col("doc_id")).as("d"))
      .collect()(0)
    val maxId = idStats.getLong(0)
    require(idStats.getLong(1) == idStats.getLong(2),
      s"priorBuild snapshot holds duplicate doc_ids (${idStats.getLong(1)} " +
        s"rows over ${idStats.getLong(2)} ids) — the packing order key " +
        "must be unique")
    val w = math.max(1024L, (maxId + 256L) / 256L)
    docArtifacts(docs)
      .withColumn("part", expr(s"doc_id div $w"))
      .repartition(col("part")) // one file per part dir (see flushArtifacts)
      .write.mode("overwrite").partitionBy("part")
      .parquet(artifactsDir(base))
    Generations.writeMarker(s, s"${artifactsDir(base)}/_PART_WIDTH",
      w.toString)
    // the artifact write above is the build's first long pole; keep
    // the lease fresh before the pack stage (see cycleTail's renewals)
    Generations.leaseHolder(s, base).map(_._1)
      .foreach(h => Generations.renewLease(s, base, h))
    // ONE dedup-pipeline evaluation writes pack_input (counts/signature
    // observations discarded here); the chunk build then runs off the
    // tiny written meta frame with tokens attached by the store join —
    // the pre-r16 build checkpointed the corpus TOKEN ARRAYS between
    // the two (a full extra write+read of the token bytes through the
    // block manager)
    writePackInputObserved(s, readArtifacts(s, base), s"$g0/pack_input")
    val packMeta = s.read.parquet(s"$g0/pack_input")
    val payload = readArtifacts(s, base).select(
      lpad(col("doc_id").cast("string"), 10, "0").as("okey"),
      TextFunctions.tokens(col("text")).as("tk"))
    // TWO consumers (manifest write + writeShards) — checkpoint the
    // compact chunk frame once so the pack subtree (prefix sum + payload
    // join + explode + per-chunk md5 over the corpus) computes once
    // (the q138 diamond rule; chunk rows are (id, count, fp) — tiny)
    val (chunks, releaseChunks) = Eager.checkpoint(
      Packing.packChunksWithCounts(packMeta, payload, "okey", "tk",
        "n_tokens", 256, groupOf))
    // the two consumers read the tiny checkpoint and write disjoint
    // paths — overlap them (guide §2.6)
    inParallel(
      () => Packing.shardManifest(chunks, 4).write.mode("overwrite")
        .parquet(s"$g0/manifest"),
      () => Packing.writeShards(chunks, s"$base/shards", 4))
    releaseChunks()
    // a full write replaces whatever an interrupted repack left behind
    Generations.dropMarker(s, s"$base/shards/_REPACK_IN_PROGRESS")
    Generations.commit(s, base, 0L)
  }

  /** ONE refresh cycle against the committed state at `base`:
    * tombstoned ids are masked out of the new snapshot FIRST (a refresh
    * must never resurrect a deleted doc the snapshot still carries —
    * VERDICT r13 #6), corpusDiff locates the delta on the raw content
    * hash, the tokenization-bound per-doc stage runs on the delta only,
    * the artifact store rewrites ONLY the partitions the delta touches
    * ([[flushArtifacts]] — write ∝ delta, and self-healing under crash
    * because it is content-addressed), the downstream stages recompute
    * over the store, the shards repack incrementally — and the tiny
    * pack_input/manifest frames land in the next UNCOMMITTED
    * generation directory, committed atomically by the final marker
    * write (crash at any point before it leaves the prior generation
    * current and a re-run converges — CommitProtocolSpec).
    *
    * The in-place shard mutation is bracketed by a DIRTY MARKER
    * (`shards/_REPACK_IN_PROGRESS`) carrying an order-independent
    * signature of the target stream (count + Σ xxhash64 over the
    * counts-only pack input — one aggregate, no tokens). A re-run after
    * a crash with the SAME target matches the signature and keeps the
    * cheap boundary-restricted path (rewrite decisions are
    * deterministic, so it overwrites exactly the same shard dirs). A
    * re-run with a DIFFERENT target — the one case where "shards
    * before the boundary are byte-identical" can be false, because the
    * interrupted run may have rewritten below the new boundary —
    * detects the mismatch and REPAIRS: it diffs the new stream against
    * the manifest recomputed from what is actually on disk
    * ([[Packing.diskManifest]]) with the boundary at zero, rewriting
    * exactly the shards whose bytes differ, whatever history produced
    * them.
    *
    * `failAt` is the kill-point injection hook for CommitProtocolSpec:
    * naming a point throws immediately after the corresponding write.
    * `packGate`/`manifestGate` run with the uncommitted generation dir
    * right after its pack_input/manifest land — [[rollbackTo]]'s
    * verification hooks; a gate that throws aborts the cycle BEFORE
    * the commit marker (and `packGate` even before any shard
    * mutation), leaving the prior generation current.
    *
    * Returns the post-refresh manifest with per-shard status plus the
    * funnel counts (n_b, n_masked, n_delta, n_removed, n_dedup,
    * n_gated, n_mixed).
    */
  private[graft] def refreshTo(s: SparkSession, base: String,
      newDocs: DataFrame, failAt: Option[String] = None,
      packGate: String => Unit = _ => (),
      manifestGate: String => Unit = _ => (),
      skipIfNoop: Boolean = false): DataFrame = {
    val holder = s"refresh-${java.util.UUID.randomUUID()}"
    Generations.acquireLease(s, base, holder)
    try {
      val cur = requireCurrent(s, base)
      Generations.cleanUncommitted(s, base)
      // right-to-be-forgotten composition: ids tombstoned between
      // refreshes stay deleted even if the new snapshot still holds them.
      // Contract: newDocs must NOT derive from this base's artifact
      // store — the cycle mutates it in place (deleteDocs works from the
      // id set for exactly this reason)
      //
      // the funnel's n_b/n_masked halves ride the diff checkpoint as
      // OBSERVATIONS on the frames that evaluation already scans — the
      // pre-r16 funnel re-aggregated newDocs and masked in a separate
      // 4-way crossJoin checkpoint (two extra snapshot scans per cycle)
      val obsB = org.apache.spark.sql.Observation()
      val obsM = org.apache.spark.sql.Observation()
      val masked = IndexMaintenance.dropTombstoned(
          newDocs.observe(obsB, count(lit(1)).as("n_b")), "doc_id", s, base)
        .observe(obsM, count(lit(1)).as("n_after_mask"))
      val artPrior = readArtifacts(s, base)
      val newFps = masked.select(col("doc_id"), md5(col("text")).as("raw_fp"))
      val (diff, releaseDiff) = Eager.checkpoint(
        graft.operators.Snapshot.corpusDiff(
          artPrior.select("doc_id", "raw_fp"), newFps, "doc_id", "raw_fp"))
      val nB = obsB.get("n_b").asInstanceOf[Long]
      val nMasked = nB - obsM.get("n_after_mask").asInstanceOf[Long]
      // one tiny pass over the CHECKPOINTED diff: the delta/removed
      // funnel counts, plus the duplicate-snapshot-id guard — a new-side
      // duplicate fans out the full-outer diff (the old side is the
      // store, unique by invariant), so n_rows > n_ids detects exactly
      // what the repack's okey-uniqueness guard caught, EARLIER (before
      // any token work or store mutation) and without its per-cycle
      // pack_input scans
      val d0 = diff.agg(count(lit(1)).as("n_rows"),
        countDistinct(col("id")).as("n_ids"),
        count(when(col("status").isin("added", "changed"), lit(1)))
          .as("n_delta"),
        count(when(col("status") === "removed", lit(1))).as("n_removed"))
        .collect()(0)
      if (d0.getLong(0) != d0.getLong(1))
        throw new IllegalArgumentException(
          s"refresh snapshot holds duplicate doc_ids (${d0.getLong(0)} diff " +
            s"rows over ${d0.getLong(1)} ids) — the packing order key must " +
            "be unique (the stream order and the old/new diff are " +
            "undefined under duplicates)")
      // noop short-circuit (the streamed refresh face's replay
      // idempotence): an empty diff means the committed state already
      // equals the target — commit NOTHING, mint no generation
      if (skipIfNoop && d0.getLong(2) == 0L && d0.getLong(3) == 0L) {
        releaseDiff()
        return noopResult(s, base, nB, nMasked)
      }
      // both id frames derive from the checkpointed diff — overlap the
      // two tiny checkpoint jobs (guide §2.6)
      var deltaIds: DataFrame = null; var releaseDeltaIds: () => Unit = null
      var gone: DataFrame = null; var releaseGone: () => Unit = null
      inParallel(
        () => {
          val r = Eager.checkpoint(
            diff.filter(col("status").isin("added", "changed"))
              .select(col("id").as("doc_id")))
          deltaIds = r._1; releaseDeltaIds = r._2
        },
        () => {
          val r = Eager.checkpoint(
            diff.filter(col("status").isin("removed", "changed"))
              .select(col("id").as("doc_id")))
          gone = r._1; releaseGone = r._2
        })
      // the ONLY tokenization-bound work of the refresh: the delta
      val deltaArt = docArtifacts(
        masked.join(deltaIds, Seq("doc_id"), "left_semi"))
      // write ∝ delta: only affected artifact partitions rewritten
      flushArtifacts(s, base, gone, deltaIds, deltaArt)
      import s.implicits._
      val funnel = Seq((nB, nMasked, d0.getLong(2), d0.getLong(3)))
        .toDF("n_b", "n_masked", "n_delta", "n_removed")
      // every pre-tail checkpoint is consumed by here (deltaArt inside
      // flushArtifacts) — release now instead of leaking blocks per
      // cycle (ADVICE r14)
      releaseDiff(); releaseDeltaIds(); releaseGone()
      cycleTail(s, base, cur, holder, funnel, () => (), failAt,
        packGate, manifestGate)
    } finally Generations.releaseLease(s, base, holder)
  }

  /** The readout of a [[refreshTo]] whose diff is EMPTY under
    * `skipIfNoop`: nothing was written and no generation committed —
    * the replay-idempotence contract of the streamed refresh face (a
    * micro-batch redelivered after a crash between commit and source
    * checkpoint must not mint a second generation for the same state).
    * Every current shard reports 'kept'; the funnel recomputes over the
    * unchanged artifact store (counts-only aggregates).
    */
  private def noopResult(s: SparkSession, base: String,
      nB: Long, nMasked: Long): DataFrame = {
    import s.implicits._
    val (_, counts) = globalStages(readArtifacts(s, base))
    val funnel = Seq((nB, nMasked, 0L, 0L))
      .toDF("n_b", "n_masked", "n_delta", "n_removed")
      .crossJoin(counts)
    val (out, _) = Eager.checkpoint(
      currentManifest(s, base)
        .select("shard_id", "n_chunks", "n_tokens", "shard_fp")
        .withColumn("status", lit("kept"))
        .crossJoin(broadcast(funnel)))
    out
  }

  /** The shared back half of a lifecycle cycle ([[refreshTo]],
    * [[deleteDocs]]): global stages over the (already-flushed)
    * artifact store, the uncommitted-generation writes, the dirty-
    * marker-bracketed repack, gates, atomic commit, prune. `funnel` is
    * the caller's eagerly-materialized 1-row (n_b, n_masked, n_delta,
    * n_removed) frame with `releaseFunnel` its checkpoint handle —
    * released here once folded into the returned frame.
    */
  private def cycleTail(s: SparkSession, base: String, cur: Long,
      holder: String, funnel: DataFrame, releaseFunnel: () => Unit,
      failAt: Option[String],
      packGate: String => Unit,
      manifestGate: String => Unit): DataFrame = {
    def inject(point: String): Unit =
      if (failAt.contains(point))
        throw new RuntimeException(s"injected lifecycle failure at $point")
    val groupOf = substring(col("okey"), 1, 8)
    val gC = Generations.dir(base, cur)
    val gN = Generations.dir(base, cur + 1)
    inject("after-artifacts")
    // a 100 TB cycle can outlive the default lease TTL: renew at the
    // stage boundaries that bracket the long poles (the global stages
    // here, the shard rewrite below), so a LIVE writer's lease is
    // never reclaimable mid-cycle
    Generations.renewLease(s, base, holder)
    // the ONE dedup-pipeline evaluation of the cycle: funnel counts and
    // the repack signature ride the pack_input write as observations
    // (pack_input never references tk, so the write tokenizes nothing)
    val (counts, sig) = writePackInputObserved(s, readArtifacts(s, base),
      s"$gN/pack_input")
    inject("after-pack-input")
    packGate(gN)
    // every counts-only repack pass below (first-diff, prefix sums)
    // re-reads the just-written IMMUTABLE pack_input instead of
    // re-deriving the dedup/gate/mix pipeline per action — the lazy
    // `pack` frame re-ran its store scan + dedup anti-join on every one
    // of the repack's internal actions. The token payload joins
    // straight off the artifact store: store rows outside the packed
    // stream fall out of the suffix equi-join (membership is
    // pack_input's), and pack_input rows always have a store row (the
    // pipeline derives from the store).
    val packMeta = s.read.parquet(s"$gN/pack_input")
    val payload = readArtifacts(s, base).select(
      lpad(col("doc_id").cast("string"), 10, "0").as("okey"),
      TextFunctions.tokens(col("text")).as("tk"))
    // the one in-place mutation of the cycle, bracketed by the dirty
    // marker. Same-signature re-run: convergent (the rewrite decision
    // diffs the COMMITTED pack_input against the new stream —
    // deterministic, never reads shard disk state — so it overwrites
    // exactly the same shard dirs). Different-signature re-run after a
    // crash: repair against the disk-derived manifest from boundary 0.
    val shardsDir = s"$base/shards"
    val dirtyPath = s"$shardsDir/_REPACK_IN_PROGRESS"
    val priorDirty = Generations.readMarker(s, dirtyPath)
    val repair = priorDirty.exists(_ != sig)
    val (oldInput, oldManifest, releaseOldManifest) =
      if (repair) {
        val (m, rel) = Eager.checkpoint(Packing.diskManifest(s, shardsDir))
        (s.emptyDataFrame
          .select(lit("").as("okey"), lit(0L).as("n_tokens"),
            lit("").as("raw_fp")).limit(0),
          m, rel)
      } else
        (s.read.parquet(s"$gC/pack_input"),
          s.read.parquet(s"$gC/manifest"), () => ())
    // a REPAIR run writes a sentinel that can never equal a clean
    // signature: a crash MID-REPAIR leaves disk in a three-way mix, and
    // a re-run of the same target must repair AGAIN, not take the cheap
    // path its matching signature would otherwise permit (the marker
    // only flips to the clean signature when the repair's rewrite has
    // completed, just before the manifest write)
    Generations.writeMarker(s, dirtyPath,
      if (repair) s"REPAIR:$sig" else sig)
    inject("mid-repair")
    // incrementalRepack returns a SELF-CONTAINED eager frame (every
    // shard write has run by the time it returns); release its own
    // checkpoint once folded into the cycle result below
    // keysValidated: okey uniqueness is the store's doc_id uniqueness,
    // an INVARIANT here — priorBuild rejects duplicate snapshot ids,
    // refreshTo rejects a duplicate-id snapshot at the diff (before any
    // token work), and deleteDocs/fsckRepair only remove rows — so the
    // generic repack guards' two pack_input scans are pure rework on
    // this path (guide §1.2: don't compute things you throw away)
    val result = Packing.incrementalRepack(
      oldInput, packMeta,
      "okey", "tk", "raw_fp", "n_tokens", 256, groupOf, 4, shardsDir,
      oldManifest,
      forcedBoundaryShard = if (repair) Some(0L) else None,
      payloadOverride = Some(payload),
      keysValidated = true)
    val releaseResult = () => Eager.release(result)
    // the rewrite completed (result is eagerly materialized, so every
    // shard write ran): disk now equals the target stream — flip the
    // repair sentinel to the clean signature so a later same-target
    // re-run may take the cheap path
    if (repair) Generations.writeMarker(s, dirtyPath, sig)
    inject("after-shards")
    Generations.renewLease(s, base, holder)
    // the manifest write (from the checkpointed result) and the funnel
    // fold (two 1-row frames) are independent — overlap them; the
    // commit marker still lands only after the manifest write returns
    var funnelFull: DataFrame = null
    var releaseFunnelFull: () => Unit = null
    inParallel(
      () => result.filter(col("status") =!= "removed")
        .select("shard_id", "n_chunks", "n_tokens", "shard_fp")
        .write.mode("overwrite").parquet(s"$gN/manifest"),
      () => {
        val r = Eager.checkpoint(funnel.crossJoin(counts))
        funnelFull = r._1; releaseFunnelFull = r._2
      })
    inject("after-manifest")
    manifestGate(gN)
    Generations.commit(s, base, cur + 1)
    Generations.dropMarker(s, dirtyPath)
    Generations.prune(s, base, KeepGenerations)
    // the returned frame is itself eagerly materialized — the ONE
    // checkpoint that outlives the cycle (tiny: manifest rows × funnel
    // columns). The rule (VERDICT r14 #7): every frame crossing the
    // lifecycle API boundary either holds its own materialized rows or
    // reads only the immutable committed generation of its birth —
    // never mutable store paths a later cycle/prune rewrites. Every
    // intermediate checkpoint is released here (ADVICE r14).
    val (out, _) = Eager.checkpoint(result.crossJoin(broadcast(funnelFull)))
    releaseFunnel(); releaseOldManifest(); releaseResult(); releaseFunnelFull()
    out
  }

  /** Targeted deletion from the lifecycle state — tombstones first (the
    * durable right-to-be-forgotten record every later [[refreshTo]]
    * masks), then the physical fold driven by the ID SET alone (no
    * corpus frame anywhere): the deleted ids leave exactly their
    * artifact partitions, and the shared cycle tail repacks only
    * shards past the first deleted doc's stream offset — so
    * tokenization is proportional to the stream SUFFIX past that
    * offset (ADVICE r14): a tail deletion (retention expiry under
    * append-order packing, the realistic shape) tokenizes almost
    * nothing, while a head-of-stream deletion re-tokenizes nearly the
    * whole corpus — a property of positional packing the --delete-only
    * ladder measures. Returns the cycle result (manifest + status +
    * funnel; n_b counts the pre-deletion store, n_removed the ids that
    * were actually present).
    *
    * `failAt` is the kill-point injection for CommitProtocolSpec's
    * deletion matrix: the tombstone write precedes every other effect,
    * so a crash at ANY later point leaves the durable
    * right-to-be-forgotten record in place and a re-run converges.
    */
  private[graft] def deleteDocs(s: SparkSession, base: String,
      ids: DataFrame, idCol: String = "doc_id",
      failAt: Option[String] = None): DataFrame = {
    val holder = s"delete-${java.util.UUID.randomUUID()}"
    Generations.acquireLease(s, base, holder)
    try {
      val cur = requireCurrent(s, base)
      Generations.cleanUncommitted(s, base)
      IndexMaintenance.writeTombstones(ids, idCol, base,
        nextTombstoneBatch(s, base))
      if (failAt.contains("after-tombstones"))
        throw new RuntimeException(
          "injected lifecycle failure at after-tombstones")
      val del = ids.select(col(idCol).as("doc_id")).distinct()
      val art = readArtifacts(s, base)
      // n_b/n_removed ride the gone checkpoint as observations on the
      // frames that evaluation already scans (the pre-r16 funnel
      // re-scanned the store for its count in a separate checkpoint)
      val obsB = org.apache.spark.sql.Observation()
      val obsR = org.apache.spark.sql.Observation()
      val (gone, releaseGone) = Eager.checkpoint(
        art.select("doc_id").observe(obsB, count(lit(1)).as("n_b"))
          .join(del, Seq("doc_id"), "left_semi")
          .observe(obsR, count(lit(1)).as("n_removed")))
      import s.implicits._
      val funnel = Seq((obsB.get("n_b").asInstanceOf[Long], 0L, 0L,
          obsR.get("n_removed").asInstanceOf[Long]))
        .toDF("n_b", "n_masked", "n_delta", "n_removed")
      flushArtifacts(s, base, gone, emptyArtifacts(s).select("doc_id"),
        emptyArtifacts(s))
      releaseGone()
      cycleTail(s, base, cur, holder, funnel, () => (), failAt,
        _ => (), _ => ())
    } finally Generations.releaseLease(s, base, holder)
  }

  /** Next deletion batch id for `base`'s tombstone store: one past the
    * highest live partition and the folded-history marker, so manual
    * [[deleteDocs]] calls interleave safely with a streamed deletion
    * face and with [[IndexMaintenance.compactTombstones]].
    */
  private[graft] def nextTombstoneBatch(s: SparkSession, base: String): Long = {
    val tombDir = s"$base/${IndexMaintenance.TombstonesName}"
    val p = new org.apache.hadoop.fs.Path(tombDir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val fromDirs =
      if (!fs.exists(p)) -1L
      else fs.listStatus(p).toSeq.map(_.getPath.getName)
        .filter(_.startsWith("batch="))
        .map(_.stripPrefix("batch=").toLong)
        .foldLeft(-1L)(math.max)
    val fromMarker = IndexMaintenance.compactedThrough(s, tombDir)
      .map(_ - 1L).getOrElse(-1L)
    math.max(fromDirs, fromMarker) + 1L
  }

  /** Roll the lifecycle state back to a committed `version` (VERDICT
    * r13 #1): one refresh cycle targeting `docsOfVersion` — the corpus
    * snapshot that generation was built from, supplied by the caller
    * (bronze snapshots are durable; derived state is not a copy of
    * them) — so the repack stays boundary-restricted and only the
    * artifact DELTA between current and target reprocesses. The
    * restored state lands as a NEW generation (history only moves
    * forward; a rollback of a rollback needs no special case).
    *
    * The versioned tiny state then serves as the VERIFICATION, run as
    * GATES inside the cycle so nothing bad ever lands: the rebuilt
    * pack_input must hash-match generation `version`'s recorded frame
    * BEFORE the first shard is touched (a caller supplying the wrong
    * snapshot fails loudly with the prior generation still current and
    * the shard store untouched), and the rebuilt manifest must match
    * the recorded one before the commit marker (an internal repack
    * divergence aborts the commit). When tombstones were written AFTER
    * the target generation, exact equality is impossible by design
    * (right-to-be-forgotten survives rollback — deleted docs must NOT
    * resurrect, and a masked doc can release a dedup duplicate); the
    * pack gate then degrades to pinning that no tombstoned doc
    * re-entered the restored packing input, and the rebuild-parity
    * contract is "≡ rebuild of (snapshot minus tombstones)"
    * (spec-pinned).
    */
  private[graft] def rollbackTo(s: SparkSession, base: String,
      version: Long, docsOfVersion: DataFrame,
      failAt: Option[String] = None): DataFrame = {
    val gens = Generations.committed(s, base)
    require(gens.contains(version),
      s"generation $version is not committed under $base " +
        s"(committed: ${gens.mkString(", ")}) — pruned past the " +
        s"$KeepGenerations-generation rollback window or never built")
    val gV = Generations.dir(base, version)
    val tombs = IndexMaintenance.tombstoneIds(s, base)
    val packGate: String => Unit = { gN =>
      tombs match {
        case None =>
          requireFramesEqual(s.read.parquet(s"$gN/pack_input"),
            s.read.parquet(s"$gV/pack_input"), PackInputCols,
            s"rollback to generation $version: rebuilt pack_input " +
              "diverges from the recorded generation — the supplied " +
              "docs are not that generation's snapshot (aborted before " +
              "any shard was touched)")
        case Some(t) =>
          val resurrected = s.read.parquet(s"$gN/pack_input")
            .join(t.select(lpad(col("id").cast("string"), 10, "0")
              .as("okey")), Seq("okey"), "left_semi")
            .limit(1).collect()
          require(resurrected.isEmpty,
            s"rollback to generation $version would resurrect " +
              s"tombstoned doc okey=${resurrected.headOption
                .map(_.get(0)).getOrElse("")}")
      }
    }
    val manifestGate: String => Unit = { gN =>
      if (tombs.isEmpty)
        requireFramesEqual(s.read.parquet(s"$gN/manifest"),
          s.read.parquet(s"$gV/manifest"),
          Seq("shard_id", "n_chunks", "n_tokens", "shard_fp"),
          s"rollback to generation $version: rebuilt manifest diverges " +
            "from the recorded generation (commit aborted)")
    }
    refreshTo(s, base, docsOfVersion, failAt = failAt, packGate = packGate,
      manifestGate = manifestGate)
  }

  /** Per-shard diff of two committed generations' recorded manifests —
    * the post-hoc readout of what a cycle between them did, derived
    * entirely from the tiny versioned frames (no shard file is opened).
    * Status semantics match the cycle result: new side = `to`.
    */
  private[graft] def manifestDiff(s: SparkSession, base: String,
      from: Long, to: Long): DataFrame = {
    def man(g: Long, p: String) =
      s.read.parquet(s"${Generations.dir(base, g)}/manifest")
        .select(col("shard_id"), col("n_chunks").as(s"${p}nc"),
          col("n_tokens").as(s"${p}nt"), col("shard_fp").as(s"${p}fp"))
    man(to, "n_").join(man(from, "o_"), Seq("shard_id"), "full_outer")
      .select(col("shard_id"),
        coalesce(col("n_nc"), col("o_nc")).as("n_chunks"),
        coalesce(col("n_nt"), col("o_nt")).as("n_tokens"),
        coalesce(col("n_fp"), col("o_fp")).as("shard_fp"),
        when(col("n_fp").isNull, "removed")
          .when(col("o_fp").isNull, "added")
          .when(col("n_fp") === col("o_fp"), "kept")
          .otherwise("rewritten").as("status"))
  }

  /** q213 oracle: the batch-only chain over the same arrival sequence —
    * the stream delivers three micro-batches whose cumulative snapshots
    * are S0 = snapshot A, S1 = the corpus minus its newest 10% (the
    * changed docs restored, the legacy docs deleted), S2 = the corpus.
    * The readout is the LAST batch's manifest diff (S1 chain vs S2
    * chain, rebuilt from scratch) plus the generation count — one
    * committed generation per effective micro-batch, never more (replay
    * idempotence).
    */
  private def q213Sql: String =
    s"""WITH mx AS (SELECT max(doc_id) AS m FROM documents),
       |s1_docs AS MATERIALIZED (
       |  SELECT doc_id, text, lang FROM documents
       |  WHERE doc_id * 10 < 9 * (SELECT m FROM mx)),
       |b_docs AS MATERIALIZED (SELECT doc_id, text, lang FROM documents),
       |${refreshChainSql("s1_docs", "o_")},
       |${refreshChainSql("b_docs", "n_")},
       |fo AS (
       |  SELECT coalesce(n.shard_id, o.shard_id) AS shard_id,
       |    coalesce(n.n_chunks, o.n_chunks) AS n_chunks,
       |    coalesce(n.n_tokens, o.n_tokens) AS n_tokens,
       |    coalesce(n.shard_fp, o.shard_fp) AS shard_fp,
       |    CASE WHEN n.shard_fp IS NULL THEN 'removed'
       |         WHEN o.shard_fp IS NULL THEN 'added'
       |         WHEN n.shard_fp = o.shard_fp THEN 'kept'
       |         ELSE 'rewritten' END AS status
       |  FROM o_man o FULL OUTER JOIN n_man n ON o.shard_id = n.shard_id)
       |SELECT fo.*, CAST(3 AS BIGINT) AS n_generations FROM fo""".stripMargin

  /** Whole-state-root audit — the lifecycle `fsck` (VERDICT r14 #5):
    * what an operator runs FIRST on a 100 TB corpus that survived a
    * crash, before trusting any cycle to build on it. One row per
    * check, long format (check_name, violations, passed), q104-style:
    *
    *  - `committed_frames`: every committed generation's tiny frames
    *    (pack_input, manifest) actually hold data files — a commit
    *    marker over missing frames means the atomic-marker invariant
    *    was violated from outside the protocol;
    *  - `orphan_generations`: uncommitted `gen_*` debris (a crashed
    *    cycle not yet swept — the next cycle's cleanUncommitted will,
    *    but an operator should know it is there);
    *  - `repack_dirty`: the shard dirty marker is present — an
    *    interrupted rewrite; the next cycle will converge or repair;
    *  - `stale_lease`: a writer lease whose expiry has passed — a
    *    crashed holder (a LIVE lease is not a violation: it means a
    *    writer is running, and fsck is read-only/lease-free);
    *  - `tombstone_resurrected`: tombstoned ids present in the CURRENT
    *    packing input — right-to-be-forgotten violated at rest;
    *  - `tombstone_in_artifacts`: tombstoned ids still in the artifact
    *    cache — deleted content whose physical fold never ran;
    *  - `artifact_missing`: packed docs whose artifact row is absent or
    *    carries a different raw content hash than the committed
    *    pack_input records;
    *  - `shard_audit`: [[Packing.auditShards]] against the current
    *    manifest — fingerprint/count mismatches, missing shard dirs,
    *    orphan shard dirs, in one full-outer readback.
    *
    * Every check is a counts-only distributed aggregate; the heaviest
    * (shard_audit) reads the shard bytes once — exactly what a
    * post-crash audit must do. Assumes the CURRENT generation's frames
    * are readable (committed_frames reports the ones that are not).
    */
  private[graft] def fsck(s: SparkSession, base: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(base)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val gens = Generations.committed(s, base)
    val missingFrames = (for {
      g <- gens; f <- Seq("pack_input", "manifest")
    } yield s"${Generations.dir(base, g)}/$f")
      .count(p => IndexMaintenance.dataFileCount(s, p) == 0L).toLong
    val orphans =
      if (!fs.exists(new Path(base))) 0L
      else fs.listStatus(new Path(base)).toSeq.map(_.getPath.getName)
        .filter(_.startsWith("gen_"))
        .flatMap(n => scala.util.Try(n.stripPrefix("gen_").toLong).toOption)
        .count(g => !gens.contains(g)).toLong
    val dirty =
      if (Generations.readMarker(s,
        s"$base/shards/_REPACK_IN_PROGRESS").isDefined) 1L else 0L
    val staleLease =
      if (fs.exists(new Path(base, Generations.LeaseName)) &&
        Generations.leaseHolder(s, base).isEmpty) 1L else 0L
    val packIn = currentPackInput(s, base)
      .select(col("okey").cast("long").as("doc_id"), col("raw_fp"))
    val tombs = IndexMaintenance.tombstoneIds(s, base)
      .map(_.select(col("id").as("doc_id")).distinct())
    val art = readArtifacts(s, base)
      .select(col("doc_id"), col("raw_fp").as("art_fp"))
    // the four distributed checks are independent counting aggregates —
    // union them into ONE action so their stages run concurrently
    // instead of as four sequential jobs (guide §2.6; same counts)
    def one(name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("violations"))
        .select(lit(name).as("check_name"), col("violations"))
    val distributed = Seq(
      tombs.map(t => one("tombstone_resurrected",
        packIn.join(t, Seq("doc_id"), "left_semi"))),
      tombs.map(t => one("tombstone_in_artifacts",
        art.join(t, Seq("doc_id"), "left_semi"))),
      Some(one("artifact_missing",
        packIn.join(art, Seq("doc_id"), "left_outer")
          .filter(col("art_fp").isNull || col("art_fp") =!= col("raw_fp")))),
      Some(one("shard_audit", Packing
        .auditShards(s, s"$base/shards", currentManifest(s, base))
        .filter(!col("fp_match") || !col("chunks_match") ||
          !col("tokens_match"))))).flatten
      .reduce(_ unionByName _)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val resurrected = distributed.getOrElse("tombstone_resurrected", 0L)
    val tombInArt = distributed.getOrElse("tombstone_in_artifacts", 0L)
    val artMissing = distributed("artifact_missing")
    val shardViol = distributed("shard_audit")
    import s.implicits._
    Seq(
      ("artifact_missing", artMissing),
      ("committed_frames", missingFrames),
      ("orphan_generations", orphans),
      ("repack_dirty", dirty),
      ("shard_audit", shardViol),
      ("stale_lease", staleLease),
      ("tombstone_in_artifacts", tombInArt),
      ("tombstone_resurrected", resurrected))
      .toDF("check_name", "violations")
      .withColumn("passed", col("violations") === 0L)
  }

  /** Repair the repairable [[fsck]] classes IN PLACE — what an operator
    * runs after fsck reports violations on a state root whose source
    * snapshot is long gone. Everything derives from the committed state
    * plus the content-addressed artifact store (the corpus text the
    * store itself holds), never from a caller snapshot:
    *
    *  - a STALE lease is reclaimed by taking the writer lease (the
    *    repair runs as the single writer, like every cycle);
    *  - ORPHAN (uncommitted) generation debris is swept;
    *  - committed generations whose tiny frames lost their data files
    *    are dropped (after the repair cycle commits, so even a damaged
    *    formerly-CURRENT generation — whose frames the repair never
    *    reads; everything rederives from the store — is superseded
    *    then swept): a commit marker over missing frames cannot serve
    *    rollback, and keeping it would wedge every multi-generation
    *    read. The freshly-committed generation is never swept, and a
    *    live reader pin is honored (the pinned husk collects on a
    *    later repair once the pin lapses);
    *  - TOMBSTONED ids still in the artifact store are physically
    *    folded out (store-targeted partition rewrite, write ∝ touched
    *    partitions) — which also un-resurrects them from the packing
    *    input the cycle rederives;
    *  - packed docs whose artifact row VANISHED are dropped from the
    *    corpus: their content is unrecoverable in place (restoring
    *    them needs a [[refreshTo]] with the source snapshot), so the
    *    repair makes the loss CONSISTENT instead of silent;
    *  - the shards are reconciled against what is ACTUALLY on disk: a
    *    forced `REPAIR:` dirty marker routes the cycle's repack through
    *    [[Packing.diskManifest]] from boundary 0, so externally
    *    corrupted or missing shard dirs are rewritten and orphan dirs
    *    deleted, whatever history produced them.
    *
    * The whole repair lands as ONE forward-only generation through the
    * normal commit protocol (crash mid-repair ⇒ prior generation stays
    * current, re-run converges). Returns the post-repair [[fsck]] — all
    * eight checks green on a repairable root — unioned with one
    * `repair_*` action row per class (violations = actions taken,
    * passed = true; they record work done, not live corruption).
    */
  private[graft] def fsckRepair(s: SparkSession, base: String,
      failAt: Option[String] = None): DataFrame = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(base)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    // observed BEFORE acquiring: taking the lease reclaims a stale one
    val staleLease =
      if (fs.exists(new Path(base, Generations.LeaseName)) &&
        Generations.leaseHolder(s, base).isEmpty) 1L else 0L
    val holder = s"fsck-repair-${java.util.UUID.randomUUID()}"
    Generations.acquireLease(s, base, holder)
    val actions = try {
      val cur = requireCurrent(s, base)
      val gens = Generations.committed(s, base)
      val orphans = fs.listStatus(new Path(base)).toSeq
        .map(_.getPath.getName).filter(_.startsWith("gen_"))
        .flatMap(n => scala.util.Try(n.stripPrefix("gen_").toLong).toOption)
        .count(g => !gens.contains(g)).toLong
      Generations.cleanUncommitted(s, base)
      val art = readArtifacts(s, base)
      // the ONE read of the possibly-damaged current generation: if its
      // pack_input is itself unreadable (the worst case — the repair
      // cycle never touches it, deriving everything from the artifact
      // store), the dropped count is unknowable and reads 0; the
      // post-cycle broken-generation sweep below removes the husk
      val dropped = scala.util.Try(currentPackInput(s, base)
        .select(col("okey").cast("long").as("doc_id"))
        .join(art.select(col("doc_id"), col("raw_fp").as("art_fp")),
          Seq("doc_id"), "left_outer")
        .filter(col("art_fp").isNull).count()).getOrElse(0L)
      val tombs = IndexMaintenance.tombstoneIds(s, base)
        .map(_.select(col("id").as("doc_id")).distinct())
      // n_b and the folded count ride the gone checkpoint as
      // observations on frames that evaluation already scans — the
      // pre-r16 funnel re-scanned the store for its count in a separate
      // crossJoin checkpoint (store reads are cycle-internal; both land
      // before the fold mutates the store)
      val obsB = org.apache.spark.sql.Observation()
      val obsR = org.apache.spark.sql.Observation()
      val (gone, releaseGone) = Eager.checkpoint(tombs
        .map(t => art.select("doc_id")
          .observe(obsB, count(lit(1)).as("n_b"))
          .join(t, Seq("doc_id"), "left_semi"))
        .getOrElse(emptyArtifacts(s).select("doc_id"))
        .observe(obsR, count(lit(1)).as("n_removed")))
      val folded = obsR.get("n_removed").asInstanceOf[Long]
      // no tombstone store → gone never scanned art; count it directly
      val nB =
        if (tombs.isDefined) obsB.get("n_b").asInstanceOf[Long]
        else art.count()
      import s.implicits._
      val funnel = Seq((nB, 0L, 0L, folded))
        .toDF("n_b", "n_masked", "n_delta", "n_removed")
      flushArtifacts(s, base, gone, emptyArtifacts(s).select("doc_id"),
        emptyArtifacts(s))
      releaseGone()
      // force the disk-derived repair: external shard corruption leaves
      // the committed-vs-target diff EMPTY (the pack is unchanged), so
      // only a bytes-on-disk reconciliation can find and rewrite it
      Generations.writeMarker(s, s"$base/shards/_REPACK_IN_PROGRESS",
        "REPAIR:fsck-forced")
      val res = cycleTail(s, base, cur, holder, funnel, () => (),
        failAt, _ => (), _ => ())
      Eager.release(res)
      // sweep broken generations AFTER the cycle commits, when the
      // fresh generation is current — so a root whose CURRENT frames
      // were the damaged ones (now superseded) heals too; the new
      // current is never swept (its frames were just written whole)
      val newCur = requireCurrent(s, base)
      val broken = Generations.committed(s, base).filter(_ != newCur)
        .filter(g => Seq("pack_input", "manifest").exists(f =>
          IndexMaintenance.dataFileCount(s,
            s"${Generations.dir(base, g)}/$f") == 0L))
        .filter(g => Generations.pins(s, base, g).isEmpty) // honor pins
      broken.foreach(g =>
        fs.delete(new Path(Generations.dir(base, g)), true))
      Seq(
        ("repair_docs_dropped", dropped),
        ("repair_generations_dropped", broken.size.toLong),
        ("repair_lease_reclaimed", staleLease),
        ("repair_orphans_swept", orphans),
        ("repair_tombstones_folded", folded))
    } finally Generations.releaseLease(s, base, holder)
    import s.implicits._
    fsck(s, base).unionByName(actions.toDF("check_name", "violations")
      .withColumn("passed", lit(true)))
  }

  /** q215 oracle: every post-repair fsck check reads zero, and the
    * repair action counts equal the planted populations — docs dropped
    * = the packed docs whose artifacts were vanished, tombstones folded
    * = the tombstoned docs still in the (full-corpus) artifact store;
    * the marker/directory/lease repairs are literal 1s.
    */
  private def q215Sql: String =
    s"""WITH mx AS (SELECT max(doc_id) AS m FROM documents),
       |b_docs AS MATERIALIZED (SELECT doc_id, text, lang FROM documents),
       |${refreshChainSql("b_docs", "b_")},
       |vals AS (SELECT
       |  (SELECT count(*) FROM b_mixed WHERE doc_id % 41 = 6)
       |    AS docs_dropped,
       |  (SELECT count(*) FROM b_docs
       |     WHERE doc_id % 31 = 3 AND doc_id % 41 <> 6) AS tomb_folded)
       |SELECT 'artifact_missing' AS check_name,
       |  CAST(0 AS BIGINT) AS violations, true AS passed FROM vals
       |UNION ALL SELECT 'committed_frames', CAST(0 AS BIGINT), true
       |  FROM vals
       |UNION ALL SELECT 'orphan_generations', CAST(0 AS BIGINT), true
       |  FROM vals
       |UNION ALL SELECT 'repack_dirty', CAST(0 AS BIGINT), true FROM vals
       |UNION ALL SELECT 'shard_audit', CAST(0 AS BIGINT), true FROM vals
       |UNION ALL SELECT 'stale_lease', CAST(0 AS BIGINT), true FROM vals
       |UNION ALL SELECT 'tombstone_in_artifacts', CAST(0 AS BIGINT), true
       |  FROM vals
       |UNION ALL SELECT 'tombstone_resurrected', CAST(0 AS BIGINT), true
       |  FROM vals
       |UNION ALL SELECT 'repair_docs_dropped',
       |  CAST(docs_dropped AS BIGINT), true FROM vals
       |UNION ALL SELECT 'repair_generations_dropped', CAST(1 AS BIGINT),
       |  true FROM vals
       |UNION ALL SELECT 'repair_lease_reclaimed', CAST(1 AS BIGINT), true
       |  FROM vals
       |UNION ALL SELECT 'repair_orphans_swept', CAST(1 AS BIGINT), true
       |  FROM vals
       |UNION ALL SELECT 'repair_tombstones_folded',
       |  CAST(tomb_folded AS BIGINT), true FROM vals""".stripMargin

  /** q214 oracle: the violation count of each planted corruption class,
    * derived from the from-scratch rebuild of the state the root held
    * before the plants (the b-chain). The marker/directory plants are
    * literal 1s; the frame plants count through the pipeline (packed
    * set for pack_input checks, the full snapshot for the artifact
    * store).
    */
  private def q214Sql: String =
    s"""WITH mx AS (SELECT max(doc_id) AS m FROM documents),
       |b_docs AS MATERIALIZED (SELECT doc_id, text, lang FROM documents),
       |${refreshChainSql("b_docs", "b_")},
       |vals AS (SELECT
       |  (SELECT count(*) FROM b_mixed WHERE doc_id % 41 = 6)
       |    AS artifact_missing,
       |  (SELECT count(*) FROM b_man WHERE shard_id = 1) AS shard_audit,
       |  (SELECT count(*) FROM b_docs
       |     WHERE doc_id % 31 = 3 AND doc_id % 41 <> 6)
       |    AS tombstone_in_artifacts,
       |  (SELECT count(*) FROM b_mixed WHERE doc_id % 31 = 3)
       |    AS tombstone_resurrected)
       |SELECT 'artifact_missing' AS check_name,
       |  CAST(artifact_missing AS BIGINT) AS violations,
       |  artifact_missing = 0 AS passed FROM vals
       |UNION ALL SELECT 'committed_frames', CAST(1 AS BIGINT), false
       |  FROM vals
       |UNION ALL SELECT 'orphan_generations', CAST(1 AS BIGINT), false
       |  FROM vals
       |UNION ALL SELECT 'repack_dirty', CAST(1 AS BIGINT), false FROM vals
       |UNION ALL SELECT 'shard_audit', CAST(shard_audit AS BIGINT),
       |  shard_audit = 0 FROM vals
       |UNION ALL SELECT 'stale_lease', CAST(1 AS BIGINT), false FROM vals
       |UNION ALL SELECT 'tombstone_in_artifacts',
       |  CAST(tombstone_in_artifacts AS BIGINT),
       |  tombstone_in_artifacts = 0 FROM vals
       |UNION ALL SELECT 'tombstone_resurrected',
       |  CAST(tombstone_resurrected AS BIGINT),
       |  tombstone_resurrected = 0 FROM vals""".stripMargin

  /** Loud order-insensitive equality check of two frames on `cols`,
    * as ONE aggregate pass: per side, (row count, Σ xxhash64 over the
    * projected row) — the dirty marker's exact signature discipline.
    * The pre-r16 symmetric exceptAll ran two full-width shuffle+sort
    * passes per side for the same verdict; the hash-sum comparison is
    * one union aggregate (at 100 TB, one scan of each tiny frame).
    * Multiset identity up to 64-bit hash-sum collision — the same
    * confidence the repack convergence signature already rests on.
    */
  private def requireFramesEqual(a: DataFrame, b: DataFrame,
      cols: Seq[String], msg: String): Unit = {
    def sideOf(df: DataFrame, tag: String) =
      df.select(lit(tag).as("__s"),
        xxhash64(cols.map(col): _*).as("__h"))
    val sides = sideOf(a, "a").unionByName(sideOf(b, "b"))
      .groupBy("__s").agg(count(lit(1)).as("n"),
        coalesce(sum(col("__h").cast("decimal(38,0)")),
          lit(0).cast("decimal(38,0)")).as("h"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDecimal(2))))
      .toMap
    val za = sides.getOrElse("a", (0L, java.math.BigDecimal.ZERO))
    val zb = sides.getOrElse("b", (0L, java.math.BigDecimal.ZERO))
    require(za._1 == zb._1 && za._2.compareTo(zb._2) == 0, msg)
  }

  // -------------------------------------------------------------------
  // Bench decomposition hooks (VERDICT r14 #4): the five lifecycle
  // queries are end-to-end store cycles, so their suite numbers mix
  // store-build noise with the mutate work that actually changes round
  // over round. These expose each query's build / mutate / readback
  // phases to Bench.phaseMetrics so BENCH_FULL.json can attribute a
  // lifecycle delta to a phase. The end-to-end medians stay the
  // headline numbers.
  // -------------------------------------------------------------------

  private[graft] def benchSnapshots(s: SparkSession,
      d: String): (DataFrame, DataFrame) = snapshots(s, d)

  private[graft] def benchScratch(s: SparkSession, d: String,
      tag: String): String = scratch(s, d, tag)

  /** Independent store tasks on concurrent driver threads — see
    * [[Eager.parallel]]. Tasks must touch DISJOINT on-disk state (each
    * store owns its directory).
    */
  private def inParallel(tasks: (() => Unit)*): Unit =
    Eager.parallel(tasks: _*)

  /** q205's five-store context, built by [[q205Build]] and consumed by
    * [[q205Mutate]]/[[q205Readout]].
    */
  private[graft] case class Q205Ctx(dirA: String, dirB: String,
      dirC: String, dirD: String, dirE: String, deleted: DataFrame,
      probe: DataFrame, tdocs: DataFrame, manifest: DataFrame,
      emb: DataFrame, cents: Seq[(Long, Array[Float])],
      queries: DataFrame)

  /** q205 BUILD phase: ingest all five stores from the full corpus. */
  private[graft] def q205Build(s: SparkSession, d: String): Q205Ctx = {
    val docs = Tables.documents(s, d)
    // the re-ingested probes ride synthetic ids doc_id + 1e6; a corpus
    // whose ids reach that offset would silently collide probe ids
    // with surviving docs and corrupt the parity readout — fail loudly
    // instead (ADVICE r13)
    val maxId = docs.agg(max("doc_id")).collect()(0).getLong(0)
    require(maxId < 1000000L,
      s"q205 probe-id offset 1000000 collides: max doc_id = $maxId")
    val deleted = docs.filter(expr(DelPred)).select("doc_id")
      .localCheckpoint(true) // consumed by five sections
    val probe = docs.filter(expr(DelPred))
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    val b0 = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
    val b1 = docs.filter(pmod(col("doc_id"), lit(2)) === 1)

    // the five stores are INDEPENDENT (disjoint directories, no shared
    // mutable state) — build them on concurrent driver threads so each
    // store's small tail stages back-fill the cores another store's
    // ingest leaves idle (guide §2.6); within a store, batch order is
    // preserved (batch 1 ingests after batch 0)
    import s.implicits._
    val q = Seq((1L, "hash"), (1L, "join"), (2L, "window"), (2L, "agg"),
      (3L, "spark"), (3L, "stream"), (3L, "data")).toDF("qid", "term")
    val dirA = scratch(s, d, "bm25")
    val dirB = scratch(s, d, "segment")
    val dirC = scratch(s, d, "shards")
    val dirD = scratch(s, d, "cells") + "/store"
    val dirE = scratch(s, d, "minhash")
    val tdocs = docs.select(col("doc_id"),
      TextFunctions.tokens(col("text")).as("tk"))
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id").as("id"), col("embedding"))
    var manifest: DataFrame = null
    var cents: Seq[(Long, Array[Float])] = null
    inParallel(
      // A. inverted index: ingest 2 batches
      () => {
        RetrievalStream.indexBatch(b0, 0L, "doc_id", "text", dirA)
        RetrievalStream.indexBatch(b1, 1L, "doc_id", "text", dirA)
      },
      // B. segment seen-index: ingest
      () => {
        StreamingDedup.screenSegmentsBatch(b0, 0L, "doc_id", "text", dirB)
          .count()
        StreamingDedup.screenSegmentsBatch(b1, 1L, "doc_id", "text", dirB)
          .count()
      },
      // C. shards: write + record the manifest. TWO consumers
      // (manifest + writeShards): checkpoint the compact chunk frame
      // once — the un-checkpointed frame re-ran tokenize + prefix sum +
      // chunk md5 over the corpus per consumer (q138 rule)
      () => {
        val (chunks, releaseChunks) = graft.operators.Eager.checkpoint(
          Packing.packChunks(tdocs, "doc_id", "tk",
            capacity = 256, groupOf = expr("doc_id div 64")))
        manifest = Packing.shardManifest(chunks, 4).localCheckpoint(true)
        Packing.writeShards(chunks, dirC, 4)
        releaseChunks()
      },
      // D. IVF cell store under a frozen quantizer
      () => {
        cents = Similarity.sampleCentroidsPortable(emb, 12)
        Similarity.writeCellStore(emb, cents, dirD)
      },
      // E. minhash band index: ingest
      () => {
        val F = Dedup.PortableHashFamily
        StreamingDedup.screenAndIndexBatch(b0, 0L, "doc_id", "text", dirE,
          family = F).count()
        StreamingDedup.screenAndIndexBatch(b1, 1L, "doc_id", "text", dirE,
          family = F).count()
      })
    Q205Ctx(dirA, dirB, dirC, dirD, dirE, deleted, probe, tdocs, manifest,
      emb, cents, q)
  }

  /** q205 MUTATE phase: delete doc_id % 13 = 5 through each store's own
    * deletion path. Returns the shard repack's result frame (consumed
    * by the readout).
    */
  private[graft] def q205Mutate(s: SparkSession, ctx: Q205Ctx): DataFrame = {
    // five independent per-store deletion paths (disjoint directories)
    // — concurrent driver threads, like the build (guide §2.6)
    var shardsResult: DataFrame = null
    inParallel(
      () => RetrievalStream.deleteDocs(ctx.deleted, "doc_id", ctx.dirA, 0L),
      () => StreamingDedup.deleteDocs(ctx.deleted, "doc_id", ctx.dirB, 0L),
      () => shardsResult = Packing.deleteAndRepack(ctx.tdocs, "doc_id",
        "doc_id", "tk", ctx.deleted, 256, expr("doc_id div 64"), 4,
        ctx.dirC, ctx.manifest),
      () => Similarity.deleteFromCellStore(s, ctx.dirD,
        ctx.emb.filter(expr("id % 13 = 5")).select("id")),
      () => StreamingDedup.deleteDocs(ctx.deleted, "doc_id", ctx.dirE, 0L))
    shardsResult
  }

  /** q205 READBACK phase: one fingerprint row per post-delete store. */
  private[graft] def q205Readout(s: SparkSession, ctx: Q205Ctx,
      shardsResult: DataFrame): DataFrame = {
    val bm25 = fpRow(
      RetrievalStream.bm25OverIndex(s, ctx.dirA, ctx.queries, 10),
      "bm25", concat_ws(":", col("qid"), col("doc"), col("score_u"),
        col("rnk")))
    val seg = fpRow(
      StreamingDedup.screenSegmentsBatch(ctx.probe, 2L, "doc_id", "text",
        ctx.dirB),
      "segment_screen", concat_ws(":", col("doc_id"), col("n_segs"),
        col("n_kept"), md5(col("kept_text"))))
    val shards = fpRow(
      shardsResult.filter(col("status") =!= "removed"),
      "shards", concat_ws(":", col("shard_id"), col("n_chunks"),
        col("n_tokens"), col("shard_fp")))
    val cells = fpRow(
      Similarity.searchCellStore(s, ctx.dirD,
        ctx.emb.filter(col("id") < 10 && expr("id % 13 <> 5")), 3, 3,
        ctx.cents),
      "cell_store", concat_ws(":", col("qid"), col("cell"), col("nid"),
        floor(col("cosine") * 10000.0 + 0.5).cast("long"), col("rank")))
    val minhash = fpRow(
      StreamingDedup.screenAndIndexBatch(ctx.probe, 2L, "doc_id", "text",
        ctx.dirE, family = Dedup.PortableHashFamily),
      "minhash_screen", concat_ws(":", col("id_a"), col("id_b"),
        col("n_bands_shared")))
    bm25.unionByName(seg).unionByName(shards).unionByName(cells)
      .unionByName(minhash)
  }

  /** q212's READBACK: the generation-history datasheet from the tiny
    * versioned frames (never the shards). This is the lifecycle's one
    * MULTI-generation reader — the weakest shape under the read-safety
    * rule (a lazy frame over every committed generation is invalidated
    * by any concurrent prune) — so it runs under reader PINS: every
    * generation it enumerates is pinned for the build, the datasheet is
    * eagerly materialized (counts-only, a handful of rows), and the
    * pins drop before the self-contained frame returns. A prune racing
    * the enumerate-then-pin window fails the pin loudly
    * ([[Generations.pinGeneration]]) — the caller re-runs against the
    * new history; never a silent half-read.
    */
  private[graft] def generationDatasheet(s: SparkSession,
      base: String): DataFrame = {
    val holder = s"datasheet-${java.util.UUID.randomUUID()}"
    val gens = Generations.committed(s, base)
    gens.foreach(g => Generations.pinGeneration(s, base, g, holder))
    try generationDatasheetUnpinned(s, base, gens)
    finally gens.foreach(g => Generations.unpinGeneration(s, base, g, holder))
  }

  private def generationDatasheetUnpinned(s: SparkSession, base: String,
      gens: Seq[Long]): DataFrame = {
    val lazyFrame = gens.map { g =>
      val gd = Generations.dir(base, g)
      val pi = s.read.parquet(s"$gd/pack_input")
        .agg(count(lit(1)).as("n_docs"),
          coalesce(sum("n_tokens"), lit(0L)).cast("long")
            .as("n_doc_tokens"))
      val mf = s.read.parquet(s"$gd/manifest")
        .agg(count(lit(1)).as("n_shards"),
          coalesce(sum("n_tokens"), lit(0L)).cast("long")
            .as("n_shard_tokens"),
          md5(array_join(
            transform(
              array_sort(collect_list(struct(col("shard_id"),
                col("shard_fp")))),
              x => x.getField("shard_fp")),
            " ")).as("manifest_fp"))
      pi.crossJoin(mf).select(lit(g).as("generation"), col("n_docs"),
        col("n_doc_tokens"), col("n_shards"), col("n_shard_tokens"),
        col("manifest_fp"))
    }.reduce(_ unionByName _)
    // materialize under the pins; the returned frame holds its own rows
    lazyFrame.localCheckpoint(true)
  }

  val all: Seq[QueryDef] = Seq(

    // q205: targeted deletion ≡ rebuild-from-scratch, across EVERY
    // persisted store in one hash check (VERDICT r12 #1). The Spark
    // side builds each store from the FULL corpus on disk (two ingest
    // batches where the store is batch-partitioned), deletes
    // doc_id % 13 = 5 through the store's own deletion path (tombstones
    // for the inverted index and both screening indexes, targeted
    // partition rewrite for the IVF cell store, boundary-restricted
    // repack for the shards), then reads the post-delete store back.
    // The oracle never sees a store: it recomputes all five readouts
    // from the SURVIVING corpus directly — search results, the
    // forgotten-content segment screen of the deleted docs re-ingested,
    // the shard manifest, IVF hits under the frozen quantizer, and the
    // minhash candidate pairs of the re-ingested deleted docs. One
    // fingerprint row per store; DeletionSpec holds the file-level pins
    // (untouched shards/cells not rewritten, physical compaction).
    QueryDef.sql("q205_delete_rebuild_parity", q205Sql) { (s, d) =>
      val ctx = q205Build(s, d)
      val shardsResult = q205Mutate(s, ctx)
      q205Readout(s, ctx, shardsResult)
    },

    // q206: delta-driven incremental refresh ≡ full rebuild (VERDICT
    // r12 #2). Snapshot A = the corpus minus the newest 10% of ids
    // (added later), with upper-30% ids at % 17 = 2 perturbed
    // (changed), plus legacy extras (% 29 = 11, id +2000000) that
    // snapshot B drops — a TAIL-heavy delta, the realistic refresh
    // shape under append-order packing. The Spark side runs the PRIOR
    // build on A and persists its artifacts to disk (per-doc artifact
    // table, packing input, shards, manifest), then refreshes to B the
    // incremental way: q92's corpusDiff finds the delta, the HEAVY
    // per-doc stage (tokenize/fingerprint/quality) runs on the DELTA
    // only, artifacts merge (removed/changed out, recomputed in), the
    // corpus-global stages (exact keep-min-id dedup, the per-doc q97
    // score ≥ 0 gate, the fixed-rate 90% hash mix) recompute as
    // aggregates over the merged artifact rows, and
    // Packing.incrementalRepack diffs the old/new packing inputs
    // counts-only to rewrite only shards past the first changed stream
    // position. The oracle runs the FULL pipeline on BOTH snapshots
    // from scratch and derives the same manifest + per-shard status
    // (kept/rewritten/added/removed) — so the hash pins not only the
    // final state but that the incremental path kept exactly what a
    // rebuild would have left identical. Funnel counts ride every row.
    QueryDef.sql("q206_incremental_refresh", q206Sql) { (s, d) =>
      // the delta is TAIL-heavy (the newest 10% added, some upper-30%
      // docs changed) — the realistic refresh shape under append-order
      // packing, where the unchanged stream prefix stays byte-identical
      // and the kept-shard restriction has something to keep
      val (a, b) = snapshots(s, d)
      val base = scratch(s, d, "refresh")
      priorBuild(s, base, a)
      refreshTo(s, base, b)
    },

    // q210: versioned rollback ≡ rebuild of the rolled-back snapshot
    // (VERDICT r13 #1). The Spark side builds generation 0 from A,
    // refreshes to B (generation 1), then ROLLS BACK to generation 0 —
    // one refresh cycle targeting the caller-supplied snapshot A, with
    // the restored pack_input and manifest hash-verified against
    // generation 0's recorded frames (a wrong snapshot fails loudly
    // instead of committing a divergent state). The oracle never sees
    // a generation: it runs the full pipeline on BOTH snapshots from
    // scratch and derives the rolled-back manifest plus the per-shard
    // status of the rollback direction (B-state → A-state) — so the
    // hash pins both the restored content and that rollback rewrote
    // exactly what the two builds disagree on. n_generations pins that
    // history only moves forward (build + refresh + rollback = 3
    // committed generations).
    QueryDef.sql("q210_rollback_restore", q210Sql) { (s, d) =>
      val (a, b) = snapshots(s, d)
      val base = scratch(s, d, "rollback")
      priorBuild(s, base, a)
      refreshTo(s, base, b)
      rollbackTo(s, base, 0L, a)
        .select(col("shard_id"), col("n_chunks"), col("n_tokens"),
          col("shard_fp"), col("status"))
        .withColumn("n_generations",
          lit(Generations.committed(s, base).size.toLong))
    },

    // q211: deletion ∘ refresh composition (VERDICT r13 #6). q205 and
    // q206 are each ≡ rebuild in isolation; the real lifecycle
    // interleaves them — tombstones arrive BETWEEN refreshes, and the
    // refresh that follows must not resurrect a tombstoned doc its new
    // snapshot still carries. The Spark side builds from A, deletes
    // every A doc with id % 23 = 7 (tombstones written first, then the
    // physical fold — a removals-only refresh cycle), then refreshes
    // to B, which STILL CONTAINS most deleted ids. The oracle rebuilds
    // from scratch on (A minus D) and (B minus D) and derives the
    // final manifest + per-shard status + the funnel — so the hash
    // pins that the composed end state ≡ rebuild on (new snapshot
    // minus deletions), that masking is an ID SET and not a predicate
    // (a brand-new B doc with id % 23 = 7 that was never deleted stays
    // IN), and that n_masked counts exactly the tombstoned survivors.
    QueryDef.sql("q211_delete_refresh_compose", q211Sql) { (s, d) =>
      val (a, b) = snapshots(s, d)
      val base = scratch(s, d, "compose")
      priorBuild(s, base, a)
      deleteDocs(s, base,
        a.filter(pmod(col("doc_id"), lit(23)) === 7).select("doc_id"))
      val res = refreshTo(s, base, b)
      val nTomb = IndexMaintenance.tombstoneIds(s, base)
        .map(_.distinct().count()).getOrElse(0L)
      res.withColumn("n_tombstoned", lit(nTomb))
    },

    // q212: the generation-history datasheet — the observability
    // readout a versioned 100 TB store needs before anyone trusts a
    // rollback window: one row per committed generation with its
    // packed doc/token totals, shard totals, and the order-pinned
    // manifest fingerprint, read straight from the tiny versioned
    // frames (never the shards). The Spark side builds gen 0 from A,
    // refreshes to B (gen 1), rolls back to A (gen 2); the oracle
    // derives all three rows from the two from-scratch chains — so the
    // hash also pins that gen 2's record is bit-identical to gen 0's
    // (rollback restored the recorded state, not an approximation).
    QueryDef.sql("q212_generation_history", q212Sql) { (s, d) =>
      val (a, b) = snapshots(s, d)
      val base = scratch(s, d, "history")
      priorBuild(s, base, a)
      refreshTo(s, base, b)
      rollbackTo(s, base, 0L, a)
      generationDatasheet(s, base)
    },

    // q213: the streamed refresh face ≡ the batch-only chain over the
    // same arrival sequence (VERDICT r14 #3). The Spark side drives a
    // REAL Structured Streaming query: three micro-batches of
    // upsert/delete events (batch 0 = snapshot A; batch 1 = the changed
    // docs restored + the legacy docs deleted; batch 2 = the newest 10%
    // appended) flow through foreachBatch, each folding the bronze
    // snapshot and driving one leased lifecycle cycle with an atomic
    // per-batch commit. The oracle never sees a stream: it rebuilds the
    // S1 and S2 cumulative snapshots from scratch and derives the last
    // batch's manifest diff — so the hash pins that three micro-batches
    // land exactly the state (and the per-shard kept/rewritten/added
    // set) the equivalent batch refreshes would have. n_generations
    // pins one commit per effective batch. The arrival data is
    // collected to the driver because MemoryStream is a driver-local
    // source; the face itself is distributed (each micro-batch is a
    // cluster job).
    QueryDef.sql("q213_streamed_refresh", q213Sql) { (s, d) =>
      import graft.streaming.RefreshStream
      val (a, b) = snapshots(s, d)
      val maxId = b.agg(max("doc_id")).collect()(0).getLong(0)
      val base = scratch(s, d, "stream_refresh")
      val bronzeDir = scratch(s, d, "stream_bronze")
      val ckpt = scratch(s, d, "stream_ckpt")
      def events(df: DataFrame, op: String): Seq[RefreshStream.DocEvent] =
        df.select("doc_id", "text", "lang").collect().toSeq.map(r =>
          RefreshStream.DocEvent(r.getLong(0), r.getString(1),
            r.getString(2), op))
      val batch0 = events(a, "upsert")
      val batch1 =
        events(b.filter(pmod(col("doc_id"), lit(17)) === 2 &&
          col("doc_id") * 10 >= lit(7L * maxId) &&
          col("doc_id") * 10 < lit(9L * maxId)), "upsert") ++
        a.filter(col("doc_id") >= 2000000L).select("doc_id").collect()
          .toSeq.map(r => RefreshStream.DocEvent(r.getLong(0), "", "",
            "delete"))
      val batch2 = events(
        b.filter(col("doc_id") * 10 >= lit(9L * maxId)), "upsert")
      implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val source = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[RefreshStream.DocEvent]
      val q = RefreshStream.attach(source.toDF(), base, bronzeDir, ckpt)
      try {
        source.addData(batch0); q.processAllAvailable()
        source.addData(batch1); q.processAllAvailable()
        source.addData(batch2); q.processAllAvailable()
      } finally q.stop()
      manifestDiff(s, base, 1L, 2L)
        .withColumn("n_generations",
          lit(Generations.committed(s, base).size.toLong))
    },

    // q214: the lifecycle fsck over a state root with PLANTED corruption
    // of every class it audits (VERDICT r14 #5). The Spark side builds a
    // healthy root (build from A, refresh to B), then plants: a
    // committed generation stripped of its manifest frame, an orphan
    // uncommitted gen dir, a dirty repack marker, an expired writer
    // lease, never-folded tombstones (ids % 31 = 3), vanished artifact
    // rows (ids % 41 = 6, removed through the store's own
    // partition-targeted rewrite), and a deleted shard directory. The
    // oracle computes each class's violation count from the from-scratch
    // rebuild of the pre-plant state — so the hash pins both that every
    // planted class is DETECTED and that the counts are exactly the
    // affected populations (packed set for pack_input checks, the full
    // snapshot for the artifact store), not just nonzero flags.
    QueryDef.sql("q214_lifecycle_fsck", q214Sql) { (s, d) =>
      val (a, b) = snapshots(s, d)
      val base = scratch(s, d, "fsck")
      priorBuild(s, base, a)
      refreshTo(s, base, b)
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      // committed generation missing a frame (non-current, so every
      // other check still reads the current generation normally)
      fs.delete(new org.apache.hadoop.fs.Path(
        s"${Generations.dir(base, 0L)}/manifest"), true)
      // crashed-cycle debris: an uncommitted generation directory
      fs.mkdirs(new org.apache.hadoop.fs.Path(s"$base/gen_99"))
      // an interrupted shard rewrite
      Generations.writeMarker(s, s"$base/shards/_REPACK_IN_PROGRESS",
        "planted-interrupted-signature")
      // a crashed writer's expired lease
      Generations.writeMarker(s, s"$base/${Generations.LeaseName}",
        "crashed-writer|12345")
      // tombstones recorded but never physically folded
      IndexMaintenance.writeTombstones(
        b.filter(pmod(col("doc_id"), lit(31)) === 3).select("doc_id"),
        "doc_id", base, 0L)
      // artifact rows vanished (through the store's own targeted
      // partition rewrite — the realistic shape of silent data loss)
      val (vanished, releaseVanished) = Eager.checkpoint(
        b.filter(pmod(col("doc_id"), lit(41)) === 6).select("doc_id"))
      flushArtifacts(s, base, vanished,
        emptyArtifacts(s).select("doc_id"), emptyArtifacts(s))
      releaseVanished()
      // a shard directory gone from under its manifest
      fs.delete(new org.apache.hadoop.fs.Path(
        s"$base/shards/shard_id=1"), true)
      fsck(s, base)
    },

    // q215: fsck REPAIR — the same planted corruption as q214, healed
    // in place from the committed state + the content-addressed
    // artifact store (no source snapshot anywhere), landing as one
    // forward-only generation through the normal commit protocol. The
    // readout is the post-repair fsck (all eight checks green) plus
    // one action row per repaired class; the oracle derives the action
    // counts from the planted populations and pins every violation at
    // zero — so the repair is verified to FIX, not merely to run.
    QueryDef.sql("q215_fsck_repair", q215Sql) { (s, d) =>
      val (a, b) = snapshots(s, d)
      val base = scratch(s, d, "fsckrepair")
      priorBuild(s, base, a)
      refreshTo(s, base, b)
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(
        s"${Generations.dir(base, 0L)}/manifest"), true)
      fs.mkdirs(new org.apache.hadoop.fs.Path(s"$base/gen_99"))
      Generations.writeMarker(s, s"$base/shards/_REPACK_IN_PROGRESS",
        "planted-interrupted-signature")
      Generations.writeMarker(s, s"$base/${Generations.LeaseName}",
        "crashed-writer|12345")
      IndexMaintenance.writeTombstones(
        b.filter(pmod(col("doc_id"), lit(31)) === 3).select("doc_id"),
        "doc_id", base, 0L)
      val (vanished, releaseVanished) = Eager.checkpoint(
        b.filter(pmod(col("doc_id"), lit(41)) === 6).select("doc_id"))
      flushArtifacts(s, base, vanished,
        emptyArtifacts(s).select("doc_id"), emptyArtifacts(s))
      releaseVanished()
      fs.delete(new org.apache.hadoop.fs.Path(
        s"$base/shards/shard_id=1"), true)
      fsckRepair(s, base)
    })
}
