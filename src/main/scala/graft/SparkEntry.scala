package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{TrainingOps, MediaOps, JoinOps, SketchOps, WebOps, GraphOps, LayoutOps, SearchOps}
import graft.testkit.{PdfBuilder, HtmlBuilder, WarcBuilder, Corpus}

/** Driver contract: one `queries` entry per implemented operator family
  * (SURVEY.md §2 + the training-data ops), each with a DuckDB oracle where
  * SQL-expressible. Extraction queries carry exact VALUES oracles built from
  * the by-construction fixture expectations. */
object SparkEntry {

  /** Deterministic messy-URL synthesis over `documents` — valid verbatim
    * in BOTH Spark SQL and DuckDB (STRING is a VARCHAR alias in DuckDB),
    * so the queries and their oracles share one definition. The five
    * cases exercise every normalization rule: fragment strip, case fold,
    * default-port drop (80/443), userinfo strip, non-default port kept,
    * empty path. Case-4 collides heavily (one URL per source). */
  private val urlSynthSql: String =
    """CASE CAST(doc_id % 5 AS INT)
      | WHEN 0 THEN concat('https://', source, '.example.com/d/', CAST(doc_id % 25 AS STRING), '?q=1#frag')
      | WHEN 1 THEN concat('HTTP://', upper(source), '.Example.COM:80/d/', CAST(doc_id % 25 AS STRING))
      | WHEN 2 THEN concat('https://', source, '.example.com:443/d/', CAST(doc_id % 25 AS STRING), '?q=1')
      | WHEN 3 THEN concat('http://user@', source, '.example.org:8080/d/', CAST(doc_id % 25 AS STRING), '/x#top')
      | ELSE concat('https://', source, '.example.com')
      |END""".stripMargin

  /** Deterministic link-graph synthesis over `documents` (valid verbatim
    * in both engines): every link preserves doc_id mod 10, so the graph
    * has EXACTLY 10 weakly-connected components of 50 nodes — a
    * non-trivial target for the components op. Each residue's hub node
    * (ids 0–9) collects ~52 in-links: heavy enough to drive co-citation
    * and degree skew, just under the default hub cap. `% 500` matches the
    * corpus row count at both test sfs. */
  private val edgeSynthSql: String =
    """SELECT doc_id AS src, (doc_id + 10) % 500 AS dst FROM documents
      |UNION ALL SELECT doc_id, (doc_id + 230) % 500 FROM documents
      |UNION ALL SELECT doc_id, doc_id % 10 FROM documents""".stripMargin

  /** The DuckDB replica of [[WebOps.parseUrls]] over [[urlSynthSql]] —
    * shared by the three URL-query oracles. Yields (doc_id, url, scheme,
    * host, domain, url_norm, port, pathq). */
  private val urlParseOracleCte: String =
    s"""WITH u AS (SELECT doc_id, $urlSynthSql AS url FROM documents),
       |nf0 AS (SELECT doc_id, url, regexp_replace(url, '#.*', '') AS nf FROM u),
       |p0 AS (SELECT doc_id, url,
       |  lower(regexp_extract(nf, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) AS scheme,
       |  regexp_extract(nf, '^([a-zA-Z][a-zA-Z0-9+.-]*)://([^/?#]*)', 2) AS auth,
       |  regexp_extract(nf, '^([a-zA-Z][a-zA-Z0-9+.-]*)://[^/?#]*(.*)', 2) AS pathq
       |  FROM nf0),
       |q0 AS (SELECT doc_id, url, scheme,
       |  lower(regexp_extract(auth, '^(?:[^@]*@)?([^:]*)', 1)) AS host,
       |  regexp_extract(auth, ':([0-9]+)$$', 1) AS port, pathq FROM p0),
       |parsed AS (SELECT doc_id, url, scheme, host,
       |  regexp_extract(host, '([^.]+\\.[^.]+)$$', 1) AS domain,
       |  CASE WHEN scheme = '' THEN '' ELSE
       |    scheme || '://' || host ||
       |    (CASE WHEN port = '' OR (scheme = 'http' AND port = '80') OR (scheme = 'https' AND port = '443')
       |          THEN '' ELSE ':' || port END) ||
       |    (CASE WHEN pathq = '' THEN '/' ELSE pathq END)
       |  END AS url_norm
       |  FROM q0)""".stripMargin

  private def t(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** Scoped shuffle-partition override for the fixture-scale streaming
    * queries: a Structured Streaming checkpoint materializes one state-store
    * instance per shuffle partition per stateful operator, so running a
    * 30-row fixture stream at the session's 32 partitions pays 32× the
    * state-store setup/commit IO for zero parallelism benefit (results are
    * partition-count invariant — the sbt specs run the same helpers at
    * other widths). Production streams size this to their key cardinality;
    * the session default is restored even on failure.
    *
    * The same fixture-scale reasoning puts `.coalesce(1)` on every tiny
    * stream-input write below: a 3-30-row wave written at the session's
    * 32-way default parallelism pays 32 task commits and leaves a
    * many-file directory for the file source to list per trigger, for
    * zero parallelism benefit (production ingest writes are sized by
    * data volume, not by this fixture constant). */
  private def withShufflePartitions[T](s: SparkSession, n: Int)(body: => T): T = {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", n.toString)
    try body finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Deferred per-query resource reclamation: queries that materialize
    * nonce-named catalog tables / temp views / temp dirs (bucketed joins,
    * persisted indexes, streaming sinks) cannot clean them up before
    * returning — the caller consumes the returned frame AFTER the query
    * function exits. Instead each invocation registers a cleanup closure
    * that the NEXT invocation of the same query runs first, so repeated
    * bench/oracle invocations hold at most one generation of tables and
    * disk per query instead of accumulating without bound.
    *
    * Contract: each query runs single-threaded per key — the cleanup deletes
    * the previous invocation's inputs, so two concurrent invocations of
    * the same query would delete each other's live tables. A failed cleanup
    * is reported on stderr with its key and never fails the new invocation. */
  private val pendingCleanup =
    new java.util.concurrent.ConcurrentHashMap[String, () => Unit]()
  private def recycle(key: String)(cleanup: () => Unit): Unit = {
    val prev = pendingCleanup.put(key, cleanup)
    if (prev != null) try prev() catch {
      case scala.util.control.NonFatal(e) => System.err.println(s"graft: cleanup of '$key' failed: $e")
    }
  }
  private def deleteDir(path: String): Unit = {
    def rec(f: java.io.File): Unit = {
      val cs = f.listFiles(); if (cs != null) cs.foreach(rec); f.delete(); ()
    }
    rec(new java.io.File(path))
  }

  // ---------- extraction queries (kernel operator families) ----------

  private def fx(names: String*): Seq[PdfBuilder.Fixture] = {
    val all = (PdfBuilder.all :+ PdfBuilder.f16Garbage).map(f => f.name -> f).toMap
    names.map(all)
  }

  /** fixture family per extraction query — each exercises one §2 block */
  private val extractionSets: Seq[(String, Seq[PdfBuilder.Fixture])] = Seq(
    "x_pdf_classic" -> fx("f01_minimal_flate", "f14_damaged_xref"),
    "x_pdf_xrefstream" -> fx("f02_xrefstream_objstm"),
    "x_pdf_filters" -> fx("f03_filters", "f28_runlength"),
    "x_pdf_state" -> fx("f27_state_ops"),
    "x_pdf_crypto" -> fx("f04_rc4", "f05_aesv2"),
    "x_pdf_fonts" -> fx("f06_widths_diff", "f07_cid_tounicode", "f12_vertical_font"),
    "x_pdf_layout" -> fx("f10_multicolumn", "f11_zero_width", "f13_tj_kerning"),
    "x_pdf_structure" -> fx("f08_xobject", "f09_rotate", "f15_annots"),
    "x_pdf_errors" -> fx("f16_garbage", "f01_minimal_flate"),
    "x_pdf_fonts2" -> fx("f17_macroman", "f18_type3", "f22_truetype", "f25_fontfile1", "f26_cjk_gbk"),
    "x_pdf_structure2" -> fx("f19_prev_chain", "f20_quote_ops", "f21_contents_array",
      "f23_lzw_tiff", "f24_inline_image"),
    // HTML main-content leg (north rule "HTML boilerplate strip ... DOM
    // heuristics"): same pipeline, content-sniffed dispatch in the kernel
    "x_html_main" -> hx("h01_article", "h02_density", "h05_images"),
    "x_html_markup" -> hx("h03_markup", "h04_structure"),
    // charset sniffing (BOM + meta prescan): real crawls are ~10-15%
    // non-UTF-8 — a latin-1 page and a BOM'd UTF-16 page must extract
    // their accented/Greek text intact through the same kernel
    "x_html_charset" -> hx("h06_latin1", "h07_utf16"))

  private def hx(names: String*): Seq[PdfBuilder.Fixture] = {
    val all = HtmlBuilder.all.map(f => f.name -> f).toMap
    names.map(all)
  }

  /** Input-span kind / expected output-span kind per fixture family. */
  private def inKind(f: PdfBuilder.Fixture): String =
    if (f.name.startsWith("h")) "html" else "pdf"
  private def outKind(f: PdfBuilder.Fixture): String =
    if (f.name == "f16_garbage") "error" else inKind(f) + "_text"

  /** Run the extraction pipeline over a one-doc-per-fixture corpus. */
  private def extractionDF(spark: SparkSession, fixtures: Seq[PdfBuilder.Fixture]): DataFrame = {
    implicit val s: SparkSession = spark
    import s.implicits._
    val docs = s.createDataset(fixtures.map(f =>
      Model.DocRow(f.name, Seq(Model.InSpan(inKind(f), "", f.name, 0))))).toDF()
    val media = s.createDataset(fixtures.map(f =>
      Model.MediaRow(f.name, f.bytes))).toDF()
    ExtractJob.extract(docs, media, s.sessionState.conf.numShufflePartitions)
      .select(col("doc_id"), col("order").as("ord"), col("kind"), col("text"), col("media_ref"))
  }

  private def sqlStr(s: String): String = "'" + s.replace("'", "''") + "'"

  // ---------- cross-engine numeric SQL builders (DuckDB oracle side) ----------
  //
  // The knn/cosine oracles replicate Spark's arithmetic EXACTLY: embeddings
  // upcast float->double (exact), then every dot/norm/distance is a
  // left-fold over the element range in index order — the same IEEE double
  // ops in the same order as TrainingOps' `aggregate(zip_with(...))`, so the
  // resulting doubles are bitwise identical across engines.

  private def dlit(d: Double): String = d.toString // shortest round-trip repr

  private def dotSql(a: String, b: String): String =
    s"list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len($a) + 1), i -> $a[i] * $b[i])), (acc, x) -> acc + x)"

  private def cosSql(a: String, b: String): String =
    s"(${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)})))"

  private def sqDistSql(a: String, b: String): String =
    s"list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, len($a) + 1), i -> ($a[i] - $b[i]) * ($a[i] - $b[i]))), (acc, x) -> acc + x)"

  /** Sign-LSH bucket with the SAME hyperplane literals as TrainingOps;
    * `planeBase` selects the table's disjoint plane set (t*bits). */
  private def bucketSql(emb: String, dim: Int, bits: Int, planeBase: Int = 0): String =
    (0 until bits).map { b =>
      val plane = TrainingOps.hyperplane(planeBase + b, dim).map(dlit).mkString("([", ", ", "]::DOUBLE[])")
      s"(CASE WHEN ${dotSql(emb, plane)} > 0 THEN ${1L << b} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** Shared shingle-set CTE (k=3), mirroring TrainingOps.shingles. */
  private val shingleCte =
    """WITH t AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS toks FROM documents),
      |s AS (SELECT doc_id, list_distinct(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
      |  ELSE list_transform(range(1, len(toks) - 1), i -> array_to_string(list_slice(toks, i, i + 2), ' ')) END) AS sh FROM t)
      |""".stripMargin

  private val jaccardExpr =
    "len(list_intersect(a.sh, b.sh))::DOUBLE / len(list_distinct(a.sh || b.sh))"

  private def knnBruteOracle: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
       |q AS (SELECT vec_id AS query_id, emb AS q_emb FROM e ORDER BY query_id LIMIT 5),
       |s AS (SELECT query_id, vec_id, ${cosSql("q_emb", "emb")} AS cos FROM e CROSS JOIN q WHERE vec_id <> query_id),
       |r AS (SELECT query_id, vec_id, cos, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS "rank" FROM s)
       |SELECT query_id, vec_id, cos, "rank" FROM r WHERE "rank" <= 10""".stripMargin

  /** Multi-table multi-probe, mirroring knnLsh's defaults (bits=3,
    * tables=5, probes=4): table t uses plane set t*bits, each query
    * probes bucket XOR {0, 1, 2, 4} per table, candidates dedup'd on the
    * identical (query_id, vec_id, cos) triple before ranking. */
  private def knnLshOracle: String = {
    val bits = 3; val tables = 5; val probes = 4
    val flips = Seq(0L) ++ (0 until probes - 1).map(b => 1L << b)
    def bucket(t: Int) = bucketSql("emb", 64, bits, planeBase = t * bits)
    val eBranches = (0 until tables)
      .map(t => s"SELECT vec_id, emb, $t AS tbl, ${bucket(t)} AS bucket FROM e")
      .mkString("\nUNION ALL ")
    val qCols = (0 until tables).map(t => s"${bucket(t)} AS b$t").mkString(", ")
    val qBranches = (for (t <- 0 until tables; f <- flips) yield
      s"SELECT query_id, q_emb, $t AS tbl, xor(b$t, $f) AS bucket FROM q0")
      .mkString("\nUNION ALL ")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
       |et AS ($eBranches),
       |q0 AS (SELECT vec_id AS query_id, emb AS q_emb, $qCols FROM e ORDER BY vec_id LIMIT 5),
       |qp AS ($qBranches),
       |s AS (SELECT DISTINCT query_id, vec_id, ${cosSql("q_emb", "emb")} AS cos FROM et JOIN qp USING (tbl, bucket) WHERE vec_id <> query_id),
       |r AS (SELECT query_id, vec_id, cos, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS "rank" FROM s)
       |SELECT query_id, vec_id, cos, "rank" FROM r WHERE "rank" <= 10""".stripMargin
  }

  private def knnIvfOracle: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
       |c AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, emb AS c_emb FROM (SELECT vec_id, emb FROM e ORDER BY vec_id LIMIT 16) t0),
       |ea AS (SELECT vec_id, emb, cell FROM (SELECT e.vec_id, e.emb, c.cell, row_number() OVER (PARTITION BY e.vec_id ORDER BY ${sqDistSql("e.emb", "c.c_emb")}, c.cell) AS rn FROM e CROSS JOIN c) t1 WHERE rn = 1),
       |qa AS (SELECT query_id, q_emb, cell FROM (SELECT q.query_id, q.q_emb, c.cell, row_number() OVER (PARTITION BY q.query_id ORDER BY ${sqDistSql("q.q_emb", "c.c_emb")}, c.cell) AS rn FROM (SELECT vec_id AS query_id, emb AS q_emb FROM e ORDER BY query_id LIMIT 5) q CROSS JOIN c) t2 WHERE rn <= 4),
       |s AS (SELECT query_id, vec_id, ${cosSql("q_emb", "emb")} AS cos FROM ea JOIN qa USING (cell) WHERE vec_id <> query_id),
       |r AS (SELECT query_id, vec_id, cos, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS "rank" FROM s)
       |SELECT query_id, vec_id, cos, "rank" FROM r WHERE "rank" <= 10""".stripMargin

  /** PQ oracle: same sampled codebook (16 lowest-id vectors), same
    * per-subspace argmin with lowest-code ties (row_number ≡ Spark's
    * least-over-structs), same IEEE left-fold subspace distances, same
    * explicit left-assoc 4-term LUT sum (SQL SUM could reorder floats). */
  private def knnPqOracle: String = {
    def sl(e: String) = s"list_slice($e, js.j * 16 + 1, js.j * 16 + 16)"
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
       |cb AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, emb AS c_emb FROM (SELECT vec_id, emb FROM e ORDER BY vec_id LIMIT 16) t0),
       |js AS (SELECT unnest(range(0, 4)) AS j),
       |codes AS (SELECT vec_id, j, c AS code FROM (
       |  SELECT e.vec_id, js.j, cb.c,
       |    row_number() OVER (PARTITION BY e.vec_id, js.j ORDER BY ${sqDistSql(sl("e.emb"), sl("cb.c_emb"))}, cb.c) AS rn
       |  FROM e CROSS JOIN js CROSS JOIN cb) t WHERE rn = 1),
       |qs AS (SELECT vec_id AS query_id, emb AS q_emb FROM e ORDER BY query_id LIMIT 5),
       |lut AS (SELECT query_id, js.j, cb.c, ${sqDistSql(sl("q_emb"), sl("cb.c_emb"))} AS dist
       |  FROM qs CROSS JOIN js CROSS JOIN cb),
       |ad AS (SELECT l0.query_id, c0.vec_id, ((l0.dist + l1.dist) + l2.dist) + l3.dist AS adist
       |  FROM codes c0
       |  JOIN codes c1 ON c0.vec_id = c1.vec_id AND c0.j = 0 AND c1.j = 1
       |  JOIN codes c2 ON c0.vec_id = c2.vec_id AND c2.j = 2
       |  JOIN codes c3 ON c0.vec_id = c3.vec_id AND c3.j = 3
       |  JOIN lut l0 ON l0.j = 0 AND l0.c = c0.code
       |  JOIN lut l1 ON l1.query_id = l0.query_id AND l1.j = 1 AND l1.c = c1.code
       |  JOIN lut l2 ON l2.query_id = l0.query_id AND l2.j = 2 AND l2.c = c2.code
       |  JOIN lut l3 ON l3.query_id = l0.query_id AND l3.j = 3 AND l3.c = c3.code
       |  WHERE c0.vec_id <> l0.query_id),
       |r AS (SELECT query_id, vec_id, adist, row_number() OVER (PARTITION BY query_id ORDER BY adist ASC, vec_id) AS "rank" FROM ad)
       |SELECT query_id, vec_id, adist, CAST("rank" AS BIGINT) AS "rank" FROM r WHERE "rank" <= 10""".stripMargin
  }

  /** IVF×PQ oracle: the 16 sampled vectors serve as BOTH the IVF cell
    * centroids (full-vector distance) and the PQ codebook (subvector
    * slices) — exactly [[TrainingOps.ivfCentroids]]/[[TrainingOps.pqCodebook]];
    * routing replicates knnIvfOracle's rn-based assignment, scoring
    * replicates knnPqOracle's LUT join, composed on the cell key. */
  private def knnIvfPqOracle: String = {
    def sl(e: String) = s"list_slice($e, js.j * 16 + 1, js.j * 16 + 16)"
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
       |cb AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, emb AS c_emb FROM (SELECT vec_id, emb FROM e ORDER BY vec_id LIMIT 16) t0),
       |js AS (SELECT unnest(range(0, 4)) AS j),
       |ea AS (SELECT vec_id, cell FROM (SELECT e.vec_id, cb.c AS cell,
       |  row_number() OVER (PARTITION BY e.vec_id ORDER BY ${sqDistSql("e.emb", "cb.c_emb")}, cb.c) AS rn
       |  FROM e CROSS JOIN cb) t WHERE rn = 1),
       |codes AS (SELECT vec_id, j, c AS code FROM (
       |  SELECT e.vec_id, js.j, cb.c,
       |    row_number() OVER (PARTITION BY e.vec_id, js.j ORDER BY ${sqDistSql(sl("e.emb"), sl("cb.c_emb"))}, cb.c) AS rn
       |  FROM e CROSS JOIN js CROSS JOIN cb) t WHERE rn = 1),
       |qs AS (SELECT vec_id AS query_id, emb AS q_emb FROM e ORDER BY query_id LIMIT 5),
       |qa AS (SELECT query_id, cell FROM (SELECT qs.query_id, cb.c AS cell,
       |  row_number() OVER (PARTITION BY qs.query_id ORDER BY ${sqDistSql("qs.q_emb", "cb.c_emb")}, cb.c) AS rn
       |  FROM qs CROSS JOIN cb) t WHERE rn <= 4),
       |lut AS (SELECT query_id, js.j, cb.c, ${sqDistSql(sl("q_emb"), sl("cb.c_emb"))} AS dist
       |  FROM qs CROSS JOIN js CROSS JOIN cb),
       |ad AS (SELECT l0.query_id, c0.vec_id, ((l0.dist + l1.dist) + l2.dist) + l3.dist AS adist
       |  FROM codes c0
       |  JOIN codes c1 ON c0.vec_id = c1.vec_id AND c0.j = 0 AND c1.j = 1
       |  JOIN codes c2 ON c0.vec_id = c2.vec_id AND c2.j = 2
       |  JOIN codes c3 ON c0.vec_id = c3.vec_id AND c3.j = 3
       |  JOIN lut l0 ON l0.j = 0 AND l0.c = c0.code
       |  JOIN lut l1 ON l1.query_id = l0.query_id AND l1.j = 1 AND l1.c = c1.code
       |  JOIN lut l2 ON l2.query_id = l0.query_id AND l2.j = 2 AND l2.c = c2.code
       |  JOIN lut l3 ON l3.query_id = l0.query_id AND l3.j = 3 AND l3.c = c3.code
       |  JOIN ea ON ea.vec_id = c0.vec_id
       |  JOIN qa ON qa.query_id = l0.query_id AND qa.cell = ea.cell
       |  WHERE c0.vec_id <> l0.query_id),
       |r AS (SELECT query_id, vec_id, adist, row_number() OVER (PARTITION BY query_id ORDER BY adist ASC, vec_id) AS "rank" FROM ad)
       |SELECT query_id, vec_id, adist, CAST("rank" AS BIGINT) AS "rank" FROM r WHERE "rank" <= 10""".stripMargin
  }

  /** MD5-based simhash, bit-for-bit the TrainingOps.simhash definition;
    * `from` parametrizes the source relation/CTE. */
  private def simhashSelect(from: String): String =
    s"""WITH t AS (SELECT doc_id, list_transform(regexp_split_to_array(lower(text), '\\s+'), x -> md5(x)) AS hs FROM $from)
       |SELECT doc_id, array_to_string(list_transform(range(0, 64), b ->
       |  CASE WHEN list_sum(list_transform(hs, h ->
       |    CASE WHEN ((strpos('0123456789abcdef', h[(b // 4) + 1]) - 1) >> (3 - (b % 4))) & 1 = 1 THEN 1 ELSE -1 END)) > 0
       |  THEN '1' ELSE '0' END), '') AS simhash FROM t""".stripMargin

  private def simhashOracle: String = simhashSelect("documents")

  /** Planted near-dup pair for q_simhash_dup_pairs: the two texts differ
    * in one word and their simhashes differ in exactly ONE bit (verified
    * offline with the same MD5 vote math) — a true hamming-1 near-dup on
    * top of the corpus's hamming-0 exact-dup groups. */
  private val simhashPlantedA =
    "the quick brown fox jumps over the lazy dog while autumn leaves drift across the quiet river valley under a pale morning sky"
  private val simhashPlantedB =
    "the quick brown evening jumps over the lazy dog while autumn leaves drift across the quiet river valley under a pale morning sky"

  /** Brute-force all-pairs hamming ≤ 3 — legitimate as the oracle because
    * the 4-band bucketing is pigeonhole-EXACT for maxHamming ≤ 3 (no
    * recall loss to replicate). */
  private def simhashDupPairsOracle: String =
    s"""WITH docs2 AS (SELECT doc_id, text FROM documents UNION ALL SELECT * FROM (VALUES
       |  (950001, ${sqlStr(simhashPlantedA)}), (950002, ${sqlStr(simhashPlantedB)})) v(doc_id, text)),
       |s0 AS (${simhashSelect("docs2")}),
       |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CAST(list_sum(list_transform(range(1, 65), i -> CASE WHEN a.simhash[i] != b.simhash[i] THEN 1 ELSE 0 END)) AS INTEGER) AS hamming
       |  FROM s0 a JOIN s0 b ON a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b, hamming FROM p WHERE hamming <= 3""".stripMargin

  private def fingerprintOracle: String =
    ("SELECT doc_id, list_reduce(list_prepend(0::BIGINT, list_transform(range(1, length(text) + 1), " +
      "i -> ascii(text[i]))), (acc, c) -> (acc * 31 + c) % 2147483647) AS fingerprint FROM documents")

  /** Planted parallel vectors union'd into q_semantic_dup_pairs: scaled
    * copies have cosine exactly 1 (after round-4) and identical sign-LSH
    * buckets; no natural sf pair reaches the 0.8 threshold (max 0.51). */
  private[graft] def plantedEmbeddings(s: SparkSession): DataFrame = {
    import s.implicits._
    val u = Array.tabulate(64)(i => (math.sin(i + 1) * 0.5).toFloat)
    val v = Array.tabulate(64)(i => (math.cos(2 * i + 1) * 0.5).toFloat)
    def sc(a: Array[Float], f: Float) = a.map(_ * f).toSeq
    // power-of-two scales only: scaling by 2^k is exact in IEEE, so every
    // dot/norm scales exactly and the bucket signs cannot flip
    Seq((9000001L, u.toSeq, 0), (9000002L, sc(u, 2f), 0), (9000003L, sc(u, 0.5f), 0),
      (9000011L, v.toSeq, 0), (9000012L, sc(v, 4f), 0))
      .toDF("vec_id", "embedding", "label")
  }

  private def semanticOracle: String =
    "SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b, CAST(cos AS DOUBLE) AS cos FROM (VALUES " +
      "(9000001, 9000002, 1.0), (9000001, 9000003, 1.0), (9000002, 9000003, 1.0), (9000011, 9000012, 1.0)" +
      ") AS t(id_a, id_b, cos)"

  private def mediaOracle: String = {
    val rows = (PdfBuilder.all :+ PdfBuilder.f16Garbage).map { f =>
      val (w, h) = MediaOps.stubDims(f.bytes)
      s"(${sqlStr(f.name)}, 'application/pdf', ${f.bytes.length}, $w, $h)"
    }
    s"SELECT t.media_ref, t.kind, CAST(t.n_bytes AS BIGINT) AS n_bytes, t.width, t.height " +
      s"FROM (VALUES ${rows.mkString(", ")}) AS t(media_ref, kind, n_bytes, width, height)"
  }

  /** Deterministic synthetic PNGs (pure JDK ImageIO, no external data). */
  private def syntheticImages: Seq[(String, Array[Byte])] =
    (0 until 6).map { i =>
      val w = 24 + i * 8
      val h = 16 + i * 4
      val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          img.setRGB(x, y, ((x * 37 + y * 91 + i * 701) & 0xffffff))
          x += 1
        }
        y += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      (f"img$i%02d", bos.toByteArray)
    }

  private def mediaImageOracle: String = {
    val rows = syntheticImages.map { case (ref, bytes) =>
      val (w, h, feat) = MediaOps.decodeImage(bytes, 16)
      // floats printed via their exact double value: float->double is
      // exact, the double literal round-trips, and double->float of an
      // exactly-float-valued double is exact — no 1-ulp literal drift
      // the inner DOUBLE cast matters: a bare decimal literal parses as
      // DECIMAL in DuckDB and DECIMAL->FLOAT double-rounds
      s"(${sqlStr(ref)}, $w, $h, CAST(CAST(${feat(0).toDouble} AS DOUBLE) AS FLOAT), " +
        s"CAST(CAST(${feat(7).toDouble} AS DOUBLE) AS FLOAT), CAST(CAST(${feat(15).toDouble} AS DOUBLE) AS FLOAT))"
    }
    s"SELECT * FROM (VALUES ${rows.mkString(", ")}) AS t(media_ref, width, height, f_first, f_mid, f_last)"
  }

  private val decontaminateOracle: String =
    """WITH t AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS toks FROM documents),
      |g AS (SELECT doc_id, unnest(list_distinct(CASE WHEN len(toks) < 13 THEN [array_to_string(toks, ' ')]
      |  ELSE list_transform(range(1, len(toks) - 11), i -> array_to_string(list_slice(toks, i, i + 12), ' ')) END)) AS gr FROM t),
      |ev AS (SELECT DISTINCT gr FROM g WHERE doc_id IN (SELECT doc_id FROM documents ORDER BY doc_id LIMIT 2)),
      |bad AS (SELECT DISTINCT doc_id FROM g JOIN ev USING (gr))
      |SELECT doc_id FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM bad)""".stripMargin

  /** By-construction oracle for q_media_resize: the same resizeImage +
    * CRC32 invoked at oracle-build time over the same synthetic PNGs. */
  private def mediaResizeOracle: String = {
    val rows = syntheticImages.map { case (ref, bytes) =>
      val r = MediaOps.resizeImage(bytes, 20, 20)
      val crc = new java.util.zip.CRC32()
      crc.update(r.out_bytes)
      s"(${sqlStr(ref)}, ${r.in_w}, ${r.in_h}, ${r.out_w}, ${r.out_h}, " +
        s"CAST(${crc.getValue} AS BIGINT), ${r.out_bytes.length})"
    }
    s"SELECT * FROM (VALUES ${rows.mkString(", ")}) AS t(media_ref, in_w, in_h, out_w, out_h, out_crc, out_len)"
  }

  /** By-construction oracle for q_media_frames (stub decode, real fan-out). */
  private def mediaFramesOracle: String = {
    val rows = (PdfBuilder.all :+ PdfBuilder.f16Garbage).flatMap { f =>
      MediaOps.stubFrames(f.bytes, everyNth = 7, maxFrames = 5).map { case (idx, len, crc) =>
        s"(${sqlStr(f.name)}, $idx, $len, CAST($crc AS BIGINT))"
      }
    }
    s"SELECT * FROM (VALUES ${rows.mkString(", ")}) AS t(media_ref, frame_idx, frame_len, frame_crc)"
  }

  private val udfFixtures = Seq("f01_minimal_flate", "f13_tj_kerning")
  private def sqlUdfOracle: String = {
    val rows = fx(udfFixtures: _*).map(f =>
      s"(${sqlStr(f.name)}, ${sqlStr(f.expected)}, ${sqlStr(f.expected)})")
    s"SELECT * FROM (VALUES ${rows.mkString(", ")}) AS t(media_ref, text, text_safe)"
  }

  private val streamFixtures = Seq("f01_minimal_flate", "f03_filters")

  /** By-construction event-timed doc stream: three sources across two
    * hour windows, with planted duplicate texts at higher doc_ids. */
  private def streamDocs: Seq[graft.streaming.StreamingOps.TimedDoc] = {
    import graft.streaming.StreamingOps.TimedDoc
    def ts(hour: Int, minute: Int): java.sql.Timestamp =
      new java.sql.Timestamp(((hour * 60L + minute) * 60L) * 1000L + 1767225600000L) // 2026-01-01 UTC
    Seq(
      TimedDoc(1, "alpha text one", "web", ts(0, 10)),
      TimedDoc(2, "beta text two", "web", ts(0, 40)),
      TimedDoc(3, "gamma text three", "books", ts(0, 55)),
      TimedDoc(4, "delta text four", "web", ts(1, 5)),
      TimedDoc(5, "epsilon text five", "books", ts(1, 20)),
      TimedDoc(101, "alpha text one", "web", ts(1, 30)),   // dup of 1
      TimedDoc(102, "gamma text three", "books", ts(1, 45)) // dup of 3
    )
  }

  /** BM25 query panel: four queries over the synthetic corpus vocabulary,
    * shared verbatim by the Spark query and the oracle's VALUES table. */
  private[graft] val bm25Queries: Seq[(Int, String)] = Seq(
    (1, "hash"), (1, "join"), (2, "window"), (2, "sort"), (2, "merge"),
    (3, "stream"), (3, "batch"), (4, "customer"), (4, "data"), (4, "query"))

  /** Late-arriving label stream for the stream-stream join: one on-time
    * label per matched doc, plus the three drop cases the time-bound
    * contract defines — too late (doc 3: +95 min > the 60-min lag),
    * before the doc's event time (doc 5), and an unknown doc_id (999). */
  private def streamLabels: Seq[graft.streaming.StreamingOps.DocLabel] = {
    import graft.streaming.StreamingOps.DocLabel
    def ts(hour: Int, minute: Int): java.sql.Timestamp =
      new java.sql.Timestamp(((hour * 60L + minute) * 60L) * 1000L + 1767225600000L)
    Seq(
      DocLabel(1, 10, ts(0, 20)),   // +10 min: match
      DocLabel(2, 20, ts(0, 40)),   // exactly at event time: match (inclusive)
      DocLabel(3, 30, ts(2, 30)),   // +95 min > 60-min lag: drop
      DocLabel(4, 40, ts(1, 50)),   // +45 min: match
      DocLabel(5, 50, ts(1, 10)),   // 10 min BEFORE the doc: drop
      DocLabel(999, 60, ts(0, 30)), // unknown doc: drop
      DocLabel(101, 70, ts(1, 59))  // +29 min: match (dup doc is its own row)
    )
  }

  /** Oracle for x_stream_join, DERIVED from the two fixture Seqs (not
    * hand-enumerated): the same key + time-bound predicate over VALUES
    * tables, so a fixture edit propagates to the oracle automatically. */
  private def streamJoinOracle: String = {
    val dRows = streamDocs.map(d =>
      s"(${d.doc_id}, '${d.source}', ${d.event_time.getTime / 1000})").mkString(", ")
    val lRows = streamLabels.map(l =>
      s"(${l.label_doc_id}, ${l.score}, ${l.label_time.getTime / 1000})").mkString(", ")
    s"""WITH d AS (SELECT * FROM (VALUES $dRows) t(doc_id, source, event_ts)),
       |l AS (SELECT * FROM (VALUES $lRows) t(label_doc_id, score, label_ts))
       |SELECT CAST(d.doc_id AS BIGINT) AS doc_id, d.source, CAST(l.score AS BIGINT) AS score,
       |  CAST(d.event_ts AS BIGINT) AS event_ts, CAST(l.label_ts AS BIGINT) AS label_ts
       |FROM d JOIN l ON d.doc_id = l.label_doc_id
       |  AND l.label_ts >= d.event_ts AND l.label_ts <= d.event_ts + 3600""".stripMargin
  }

  /** Sketch oracles shared by the direct queries AND the merge queries
    * (q_hll_merge / q_hist_merge / q_cms_merge): merging the two
    * doc_id-parity halves must reproduce the whole-corpus sketch exactly,
    * so the merged result is verified against the SAME whole-corpus SQL. */
  private val hllRegistersOracleSql: String =
    """WITH c AS (SELECT CAST('0x' || substr(md5(text), 1, 2) AS INTEGER) AS register,
      |  CAST('0x' || substr(md5(text), 3, 14) AS BIGINT) AS v FROM documents)
      |SELECT register, MAX(CAST(CASE WHEN v = 0 THEN 57 ELSE 57 - length(bin(v)) END AS INTEGER)) AS max_rho
      |FROM c GROUP BY register""".stripMargin

  private val logHistogramOracleSql: String =
    "SELECT CASE WHEN n_chars <= 0 THEN -1 ELSE CAST(length(bin(n_chars)) AS INTEGER) - 1 END AS bin, " +
      "CAST(COUNT(*) AS BIGINT) AS n, MIN(n_chars) AS min_v, MAX(n_chars) AS max_v " +
      "FROM documents GROUP BY 1"

  private val cmsSketchOracleSql: String =
    """WITH wf AS (SELECT w FROM (SELECT unnest(regexp_split_to_array(lower(text), '\s+')) AS w FROM documents) t WHERE w <> ''),
      |ds AS (SELECT CAST(unnest(range(4)) AS INTEGER) AS d)
      |SELECT d, CAST(CAST('0x' || substr(md5(CAST(d AS VARCHAR) || ':' || w), 1, 8) AS BIGINT) % 256 AS INTEGER) AS bucket,
      |  CAST(COUNT(*) AS BIGINT) AS cnt
      |FROM wf CROSS JOIN ds GROUP BY 1, 2""".stripMargin

  /** Oracle for q_zone_map: per-z-bin min/max/count for both interleaved
    * dimensions plus the [64, 95]-slab pruning verdicts, replayed over
    * the generated zkey sum. */
  private def zoneMapOracleSql: String = {
    val a = "(n_chars % 256)"
    val b = "(doc_id % 256)"
    val terms = (0 until 8).flatMap { i =>
      Seq(s"((($a >> $i) & 1) << ${2 * i})", s"((($b >> $i) & 1) << ${2 * i + 1})")
    }
    val zkey = terms.mkString(" + ")
    s"""WITH z AS (SELECT $a AS a, $b AS b, CAST($zkey AS BIGINT) AS zkey FROM documents),
       |m AS (SELECT CAST((zkey >> 10) AS INTEGER) AS zbin, CAST(COUNT(*) AS BIGINT) AS n,
       |  MIN(a) AS a_min, MAX(a) AS a_max, MIN(b) AS b_min, MAX(b) AS b_max FROM z GROUP BY 1)
       |SELECT zbin, n, a_min, a_max, b_min, b_max,
       |  NOT (a_max < 64 OR a_min > 95) AS keep_a,
       |  NOT (b_max < 64 OR b_min > 95) AS keep_b
       |FROM m""".stripMargin
  }

  /** Oracle for q_zorder_key: the bit-interleave replayed as a literal
    * sum of shift/mask terms — generated from the same (bits, binBits)
    * parameters the Spark query uses, so the two cannot drift. */
  private def zorderOracleSql: String = {
    val a = "(n_chars % 256)"
    val b = "(doc_id % 256)"
    val terms = (0 until 8).flatMap { i =>
      Seq(s"((($a >> $i) & 1) << ${2 * i})", s"((($b >> $i) & 1) << ${2 * i + 1})")
    }
    val zkey = terms.mkString(" + ")
    s"SELECT doc_id, CAST($zkey AS BIGINT) AS zkey, CAST(($zkey) >> 10 AS INTEGER) AS zbin FROM documents"
  }

  /** Oracle for q_bm25_topk: the whole scoring pipeline replayed in SQL
    * with the arithmetic expression trees mirrored VERBATIM from
    * SearchOps.bm25TopK (exactly-rounded IEEE ops on <2^53 integers are
    * bit-identical across engines; per-term scores quantize to BIGINT
    * before the order-sensitive summation). Query panel shared via
    * [[bm25Queries]]. */
  private def bm25OracleSql: String = {
    val vals = bm25Queries.map { case (q, term) => s"($q, '$term')" }.mkString(", ")
    s"""WITH toks AS (SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\\s+')) AS term FROM documents),
       |tk AS (SELECT doc_id, term FROM toks WHERE term <> ''),
       |dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM tk GROUP BY 1),
       |st AS (SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM documents) AS n_docs,
       |  (SELECT CAST(COUNT(*) AS BIGINT) FROM tk) AS sum_dl),
       |qt AS (SELECT * FROM (VALUES $vals) t(qid, term)),
       |tf AS (SELECT tk.doc_id, tk.term, CAST(COUNT(*) AS BIGINT) AS tf FROM tk
       |  WHERE tk.term IN (SELECT term FROM qt) GROUP BY 1, 2),
       |dfq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
       |sc AS (SELECT qt.qid, tf.doc_id,
       |  CAST(FLOOR(1000000.0 * ((st.n_docs - dfq.df + 0.5) / (dfq.df + 0.5)) * ((tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * (dl.dl * st.n_docs / st.sum_dl))))) AS BIGINT) AS s
       |  FROM tf JOIN dfq ON tf.term = dfq.term JOIN qt ON tf.term = qt.term
       |  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN st),
       |ag AS (SELECT qid, doc_id, CAST(SUM(s) AS BIGINT) AS score_fp FROM sc GROUP BY 1, 2),
       |r AS (SELECT qid, doc_id, score_fp,
       |  ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score_fp DESC, doc_id) AS rk FROM ag)
       |SELECT qid, doc_id, score_fp, CAST(rk AS INTEGER) AS rk FROM r WHERE rk <= 10""".stripMargin
  }

  private def streamWindowOracle: String =
    ("SELECT CAST(w AS BIGINT) AS win_start, source, CAST(nd AS BIGINT) AS n_docs, CAST(nc AS BIGINT) AS n_chars " +
      "FROM (VALUES " +
      // window 2026-01-01T00:00 UTC = epoch 1767225600
      "(1767225600, 'web', 2, 27), (1767225600, 'books', 1, 16), " +
      // window 01:00: web ids 4,101; books ids 5,102
      "(1767229200, 'web', 2, 29), (1767229200, 'books', 2, 33)" +
      ") AS t(w, source, nd, nc)")

  /** Second wave for the streaming dedup, processed in a separate
    * checkpointed run: doc 0 is a duplicate text with a SMALLER doc_id
    * than the wave-1 winner (id 4) — under the streaming first-seen-wins
    * contract it must be suppressed, where batch dedup would keep it. */
  private def streamDedupWave2: Seq[graft.streaming.StreamingOps.TimedDoc] = {
    import graft.streaming.StreamingOps.TimedDoc
    def ts(hour: Int, minute: Int): java.sql.Timestamp =
      new java.sql.Timestamp(((hour * 60L + minute) * 60L) * 1000L + 1767225600000L)
    Seq(
      TimedDoc(0, "delta text four", "web", ts(2, 5)), // smaller-id LATE dup of 4
      TimedDoc(200, "zeta text six", "web", ts(2, 10)))
  }

  /** Near-dedup stream waves: doc 3 repeats doc 1's sentence one more
    * time — a DIFFERENT text with the SAME 3-word shingle set, hence the
    * same minhash signature (the high-similarity tier the streaming
    * near-dedup suppresses and exact dedup would keep); doc 5 is an exact
    * dup of doc 2; doc 4 is unrelated and kept. */
  private def nearStreamWave1: Seq[graft.streaming.StreamingOps.TimedDoc] = {
    import graft.streaming.StreamingOps.TimedDoc
    def ts(m: Int) = new java.sql.Timestamp(1767225600000L + m * 60000L)
    Seq(
      TimedDoc(1, "x y z x y z", "web", ts(0)),
      TimedDoc(2, "totally different content here now", "web", ts(1)))
  }
  private def nearStreamWave2: Seq[graft.streaming.StreamingOps.TimedDoc] = {
    import graft.streaming.StreamingOps.TimedDoc
    def ts(m: Int) = new java.sql.Timestamp(1767225600000L + m * 60000L)
    Seq(
      TimedDoc(3, "x y z x y z x y z", "web", ts(2)), // near-dup of 1: same shingle set
      TimedDoc(4, "p q r s t u v", "web", ts(3)),
      TimedDoc(5, "totally different content here now", "web", ts(4))) // exact dup of 2
  }
  private def nearStreamDedupOracle: String =
    "SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM (VALUES " +
      "(1, 'x y z x y z'), (2, 'totally different content here now'), " +
      "(4, 'p q r s t u v')) AS t(doc_id, text)"

  /** Eval-set texts for the streaming decontamination gate: 14-15 words
    * each, so every one carries real (distinct) 13-grams. */
  private val decontamEvalTexts = Seq(
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima mike november",
    "one two three four five six seven eight nine ten eleven twelve thirteen fourteen fifteen")

  /** Decontamination stream waves: docs 2 (exact eval copy), 3 (embeds
    * eval 13-gram mid-text) and 6 (embeds the other eval's grams) are
    * contaminated and must be dropped at ingest; 1, 4, 5 are clean (doc
    * 4 is shorter than 13 tokens — its whole-text fallback gram matches
    * nothing). */
  private def decontamWave1: Seq[graft.streaming.StreamingOps.TimedDoc] = {
    import graft.streaming.StreamingOps.TimedDoc
    def ts(m: Int) = new java.sql.Timestamp(1767225600000L + m * 60000L)
    Seq(
      TimedDoc(1, "the quick brown fox jumps over the lazy dog and keeps on running today", "web", ts(0)),
      TimedDoc(2, decontamEvalTexts(0), "web", ts(1)),
      TimedDoc(3, "leading words then alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima mike closing words", "cc", ts(2)),
      TimedDoc(4, "clean short doc", "books", ts(3)))
  }
  private def decontamWave2: Seq[graft.streaming.StreamingOps.TimedDoc] = {
    import graft.streaming.StreamingOps.TimedDoc
    def ts(m: Int) = new java.sql.Timestamp(1767225600000L + m * 60000L)
    Seq(
      TimedDoc(5, "another clean document with enough distinct words to look entirely real here", "web", ts(4)),
      TimedDoc(6, "noise one two three four five six seven eight nine ten eleven twelve thirteen fourteen fifteen tail", "cc", ts(5)))
  }
  private def streamDecontamOracle: String = {
    val clean = (decontamWave1 ++ decontamWave2).filter(d => Seq(1L, 4L, 5L).contains(d.doc_id))
    val rows = clean.map(d => s"(${d.doc_id}, ${sqlStr(d.text)})")
    s"SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM (VALUES ${rows.mkString(", ")}) AS t(doc_id, text)"
  }

  /** Deterministic synthetic multi-frame (animated) GIFs, pure JDK
    * sequence writing — 4/7/10 frames, small flat-color rasters (GIF
    * palettes are exact for few colors, so decode is bit-stable). */
  private def syntheticGifs: Seq[(String, Array[Byte])] =
    (0 until 3).map { i =>
      val frames = 4 + i * 3
      val w = 20 + i * 6
      val h = 14 + i * 4
      val bos = new java.io.ByteArrayOutputStream()
      val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
      val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      (0 until frames).foreach { f =>
        val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
        val colors = Array(0xff0000, 0x00ff00, 0x0000ff, 0xffff00)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            img.setRGB(x, y, colors((x / 4 + y / 4 + f + i) % colors.length))
            x += 1
          }
          y += 1
        }
        writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
      }
      writer.endWriteSequence()
      writer.dispose()
      ios.close()
      (f"gif$i%02d", bos.toByteArray)
    }

  /** By-construction oracle for q_media_gif_frames: the same gifFrames
    * dispatch invoked at oracle-build time over the same synthetic GIFs. */
  private def mediaGifFramesOracle: String = {
    val rows = syntheticGifs.flatMap { case (ref, bytes) =>
      MediaOps.sampleFrames("image/gif", bytes, everyNth = 3, maxFrames = 3).map {
        case (idx, len, crc) => s"(${sqlStr(ref)}, $idx, $len, CAST($crc AS BIGINT))"
      }
    }
    s"SELECT * FROM (VALUES ${rows.mkString(", ")}) AS t(media_ref, frame_idx, frame_len, frame_crc)"
  }

  /** Order-aware oracle: first-seen-wins across waves — within a wave the
    * minimal doc_id per text, across waves the earlier wave's winner. */
  private def streamDedupOracle: String = {
    val wave1 = streamDocs.groupBy(_.text).map { case (_, ds) => ds.minBy(_.doc_id) }.toSeq
    val seen = wave1.map(_.text).toSet
    val wave2 = streamDedupWave2.filterNot(d => seen.contains(d.text))
      .groupBy(_.text).map { case (_, ds) => ds.minBy(_.doc_id) }.toSeq
    val rows = (wave1 ++ wave2).sortBy(_.doc_id)
      .map(d => s"(${d.doc_id}, ${sqlStr(d.text)})")
    s"SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM (VALUES ${rows.mkString(", ")}) AS t(doc_id, text)"
  }

  /** Exact VALUES oracle from the by-construction expected text. */
  private def extractionOracle(fixtures: Seq[PdfBuilder.Fixture]): String = {
    val rows = fixtures.map { f =>
      val kind = outKind(f)
      val text = if (kind == "error") "" else f.expected
      s"(${sqlStr(f.name)}, 0, ${sqlStr(kind)}, ${sqlStr(text)}, ${sqlStr(f.name)})"
    }
    s"SELECT * FROM (VALUES ${rows.mkString(", ")}) AS t(doc_id, ord, kind, text, media_ref)"
  }

  // ---------- contract ----------

  /** Flagship: full extraction pipeline over an interleaved corpus. */
  def entry(spark: SparkSession): DataFrame = {
    implicit val s: SparkSession = spark
    import s.implicits._
    val built = Corpus.build(nDocs = 16, heavyEvery = 8)
    val docs = s.createDataset(built.docs).toDF()
    val media = s.createDataset(built.media).toDF()
    ExtractJob.extract(docs, media, 8)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = {
    val extraction: Seq[(String, (SparkSession, String) => DataFrame)] =
      extractionSets.map { case (name, fixtures) =>
        name -> ((s: SparkSession, _: String) => extractionDF(s, fixtures))
      }

    // money columns are doubles holding exact 2-decimal (3 for events.value)
    // values; Spark's Decimal(double) rounds via Double.toString+HALF_UP while
    // DuckDB rounds the exact binary value, so decimal casts hash-mismatch.
    // Per-row integer cents (round(x*100) as long) are exact, identical in
    // both engines, and make the SUM order-independent.
    def cents(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      round(c * 100).cast("long")

    val relational: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "q_agg_pricing" -> ((s: SparkSession, d: String) =>
        t(s, d, "lineitem").groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(count(lit(1)).as("n"),
            sum(round(col("l_quantity")).cast("long")).as("sum_qty"),
            sum(cents(col("l_extendedprice"))).as("sum_price_cents"))),

      "q_join_nation_revenue" -> ((s: SparkSession, d: String) =>
        t(s, d, "orders")
          .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
          .join(broadcast(t(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("n_name"))
          .agg(count(lit(1)).as("n_orders"),
            sum(cents(col("o_totalprice"))).as("revenue_cents"))),

      "q_window_top_order" -> ((s: SparkSession, d: String) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("o_custkey")).orderBy(col("o_totalprice").desc, col("o_orderkey"))
        t(s, d, "orders").withColumn("rn", row_number().over(w))
          .where(col("rn") === 1).select(col("o_custkey"), col("o_orderkey"))
      }),

      "q_topk_price" -> ((s: SparkSession, d: String) =>
        t(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"),
            cents(col("l_extendedprice")).as("price_cents"))
          .orderBy(col("price_cents").desc, col("l_orderkey"), col("l_linenumber"))
          .limit(100)),

      "q_semi_active_customers" -> ((s: SparkSession, d: String) =>
        t(s, d, "customer").join(t(s, d, "orders"),
          col("c_custkey") === col("o_custkey"), "left_semi")
          .select(col("c_custkey"), col("c_name"))),

      "q_anti_no_big_order" -> ((s: SparkSession, d: String) =>
        t(s, d, "customer").join(
          t(s, d, "orders").where(col("o_totalprice") > 400000),
          col("c_custkey") === col("o_custkey"), "left_anti")
          .select(col("c_custkey"), col("c_name"))),

      "q_events_by_type" -> ((s: SparkSession, d: String) =>
        t(s, d, "events").groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            countDistinct(col("user_id")).as("n_users"),
            sum(round(col("value") * 1000).cast("long")).as("sum_value_milli"))),

      // ROLLUP subtotals (grouping-sets family); explicit 'ALL' labels
      // instead of the NULL group markers so the compare is unambiguous
      "q_rollup_pricing" -> ((s: SparkSession, d: String) =>
        t(s, d, "lineitem")
          .rollup(col("l_returnflag"), col("l_linestatus"))
          .agg(count(lit(1)).as("n"),
            sum(round(col("l_quantity")).cast("long")).as("sum_qty"))
          .select(coalesce(col("l_returnflag"), lit("ALL")).as("rflag"),
            coalesce(col("l_linestatus"), lit("ALL")).as("lstatus"),
            col("n"), col("sum_qty"))),

      // pivot events to one row per user with per-type counts — the
      // portable CASE formulation (identical semantics in any engine)
      "q_pivot_events" -> ((s: SparkSession, d: String) => {
        val types = Seq("click", "error", "purchase", "signup", "view")
        val aggs = types.map(ty =>
          sum(when(col("event_type") === ty, 1L).otherwise(0L)).as(s"n_$ty"))
        t(s, d, "events").groupBy(col("user_id"))
          .agg(aggs.head, aggs.tail: _*)
      }),

      // incremental-ingest dedup: drop docs whose text already exists in a
      // prior committed corpus snapshot (here: the deterministic 25%
      // sample stands in for the prior snapshot) — the "don't re-ingest
      // what's already trained on" step. The anti-join keys on
      // xxhash64(text), NOT text: at 100 TB the prior side is a persisted
      // hash table and the shuffle moves 8-byte keys, never document
      // bodies (PlanSpec pins no text attribute in any exchange). The
      // oracle joins on text — identical result on a collision-free
      // corpus (and xxhash64 collisions at corpus scale are ~n²/2⁶⁴).
      "q_dedup_vs_prior" -> ((s: SparkSession, d: String) => {
        val docs = t(s, d, "documents")
        val prior = TrainingOps.deterministicSample(docs, "doc_id", "40000000")
          .select(xxhash64(col("text")).as("th"))
        docs.select(col("doc_id"), xxhash64(col("text")).as("th"))
          .join(prior, Seq("th"), "left_anti").select(col("doc_id"))
      }),

      // gap-based sessionization (30-min inactivity closes a session):
      // ONE shuffle on user_id — the lag window, the running-sum window
      // and the (user_id, session_idx) aggregation all reuse it (the agg's
      // clustering keys are a superset of the partitioning)
      "q_sessionize" -> ((s: SparkSession, d: String) => {
        // ordering by tus ≡ ordering by ts (epoch micros are injective)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id")).orderBy(col("tus"), col("event_id"))
        t(s, d, "events")
          // ts is TIMESTAMP_NTZ in the parquet; sessions run UTC, so the
          // cast is epoch-exact and matches DuckDB's naive epoch_us(ts)
          .select(col("user_id"), col("event_id"),
            unix_micros(col("ts").cast("timestamp")).as("tus"))
          .withColumn("prev", lag(col("tus"), 1).over(w))
          .withColumn("ns", when(col("prev").isNull ||
            col("tus") - col("prev") > 1800L * 1000000, 1).otherwise(0))
          .withColumn("session_idx", sum(col("ns")).over(
            w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
          .groupBy(col("user_id"), col("session_idx"))
          .agg(count(lit(1)).as("n_events"),
            min(col("tus")).as("start_us"),
            (max(col("tus")) - min(col("tus"))).as("dur_us"))
      }))

    val training: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "q_dedup_exact" -> ((s: SparkSession, d: String) =>
        TrainingOps.dedupExact(t(s, d, "documents"))),
      "q_dedup_exact_hash" -> ((s: SparkSession, d: String) =>
        TrainingOps.dedupExactByHash(t(s, d, "documents"))),
      "q_token_count" -> ((s: SparkSession, d: String) =>
        TrainingOps.tokenCount(t(s, d, "documents"))),
      "q_quality" -> ((s: SparkSession, d: String) =>
        TrainingOps.quality(t(s, d, "documents"))),
      "q_langid" -> ((s: SparkSession, d: String) =>
        TrainingOps.langId(t(s, d, "documents"))),
      "q_fingerprint" -> ((s: SparkSession, d: String) =>
        TrainingOps.fingerprint(t(s, d, "documents"))),
      // candidate pairs filtered at est>=0.5: the seeded corpus separates
      // cleanly (true jaccard <0.1 or >0.9), so this equals the ground-truth
      // j>=0.5 pair set the DuckDB oracle computes
      "q_minhash_lsh_pairs" -> ((s: SparkSession, d: String) =>
        TrainingOps.minhashLshPairs(t(s, d, "documents"))
          .where(col("est_jaccard") >= 0.5).select(col("doc_a"), col("doc_b"))),
      // LSH routed through a PERSISTED signature table (save→load round
      // trip) — the compute-signatures-once-per-snapshot production
      // shape: the consumer plan reads (doc_id, minhash) parquet and
      // contains NO signature pass at all (PlanSpec pins zero
      // MapPartitions); same signatures, so the ground-truth pair oracle
      // is unchanged
      "q_minhash_lsh_persisted" -> ((s: SparkSession, d: String) => {
        val sroot = java.nio.file.Files.createTempDirectory("graft-sig").toString
        recycle("graft-sig")(() => deleteDir(sroot))
        val sdir = sroot + "/minhash"
        TrainingOps.saveMinhashSignatures(t(s, d, "documents"), sdir)
        TrainingOps.minhashLshPairsFromSig(TrainingOps.loadMinhashSignatures(s, sdir))
          .where(col("est_jaccard") >= 0.5).select(col("doc_a"), col("doc_b"))
      }),
      "q_simhash" -> ((s: SparkSession, d: String) =>
        TrainingOps.simhash(t(s, d, "documents"))),
      // simhash near-dup pairs (4-band bucketing, pigeonhole-exact for
      // hamming<=3, native codegen hamming verify); planted hamming-1 pair
      "q_simhash_dup_pairs" -> ((s: SparkSession, d: String) => {
        import s.implicits._
        val planted = Seq((950001L, simhashPlantedA), (950002L, simhashPlantedB))
          .toDF("doc_id", "text")
        TrainingOps.simhashDupPairs(
          t(s, d, "documents").select(col("doc_id"), col("text")).unionByName(planted))
      }),
      "q_ngram_jaccard_pairs" -> ((s: SparkSession, d: String) =>
        TrainingOps.ngramJaccardPairs(t(s, d, "documents"), threshold = 0.5)),
      "q_knn_brute" -> ((s: SparkSession, d: String) => {
        val e = t(s, d, "embeddings")
        TrainingOps.knnBrute(e, e.orderBy(col("vec_id")).limit(5), k = 10)
      }),
      "q_knn_lsh" -> ((s: SparkSession, d: String) => {
        val e = t(s, d, "embeddings")
        TrainingOps.knnLsh(e, e.orderBy(col("vec_id")).limit(5), dim = 64, k = 10)
      }),
      // int8-quantized kNN: integer dot products (bitwise-exact ranking
      // inputs), dequant scales as the only floats — the memory-bound ANN
      // sweep; whole top-k table hash-compared cross-engine
      "q_knn_int8" -> ((s: SparkSession, d: String) => {
        val e = t(s, d, "embeddings")
        TrainingOps.knnInt8(e, e.orderBy(col("vec_id")).limit(5), k = 10)
      }),
      // product-quantization ADC kNN (Jégou et al.): 4 codes/vector, a
      // per-query m×16 LUT computed once before the broadcast join, m
      // lookups per candidate — the compressed-candidate ANN scan; IEEE
      // left-fold distances make the whole table hash-comparable
      "q_knn_pq" -> ((s: SparkSession, d: String) => {
        val e = t(s, d, "embeddings")
        TrainingOps.knnPq(e, e.orderBy(col("vec_id")).limit(5),
          TrainingOps.pqCodebook(e), k = 10)
      }),
      // IVF routing × PQ scoring (the billion-scale layout): probe 4 of
      // 16 cells, ADC-score only those cells' candidates — cell key +
      // 4-int codes shuffle, embeddings never do
      "q_knn_ivf_pq" -> ((s: SparkSession, d: String) => {
        val e = t(s, d, "embeddings")
        TrainingOps.knnIvfPq(e, e.orderBy(col("vec_id")).limit(5),
          TrainingOps.pqCodebook(e), k = 10)
      }),
      // routed through a PERSISTED quantizer (save→load round trip) — the
      // train-once shape; same centroids, so the oracle is unchanged
      "q_knn_ivf" -> ((s: SparkSession, d: String) => {
        val e = t(s, d, "embeddings")
        val croot = java.nio.file.Files.createTempDirectory("graft-ivf").toString
        recycle("graft-ivf")(() => deleteDir(croot))
        val cdir = croot + "/centroids"
        TrainingOps.saveCentroids(s, TrainingOps.ivfCentroids(e), cdir)
        TrainingOps.knnIvf(e, e.orderBy(col("vec_id")).limit(5), dim = 64, k = 10,
          centroids0 = TrainingOps.loadCentroids(s, cdir))
      }),
      "q_token_count_bpe" -> ((s: SparkSession, d: String) =>
        TrainingOps.tokenCountBpe(t(s, d, "documents"))),
      "q_semantic_dup_pairs" -> ((s: SparkSession, d: String) =>
        TrainingOps.semanticDupPairs(
          t(s, d, "embeddings").unionByName(plantedEmbeddings(s)), dim = 64, threshold = 0.8)),
      "q_media_features" -> ((s: SparkSession, d: String) => {
        implicit val sp: SparkSession = s
        import sp.implicits._
        val media = sp.createDataset((PdfBuilder.all :+ PdfBuilder.f16Garbage).map(f =>
          (f.name, "application/pdf", f.bytes))).toDF("media_ref", "kind", "bytes")
        MediaOps.featurize(media, dim = 16).toDF()
          .select(col("media_ref"), col("kind"), col("n_bytes"), col("width"), col("height"))
      }),
      // dedup clusters: connected components over the near-dup pair graph
      "q_dup_clusters" -> ((s: SparkSession, d: String) =>
        TrainingOps.dupClusters(
          TrainingOps.minhashLshPairs(t(s, d, "documents")).where(col("est_jaccard") >= 0.5))),
      "q_sample" -> ((s: SparkSession, d: String) =>
        TrainingOps.deterministicSample(t(s, d, "documents"), "doc_id", "40000000")
          .select(col("doc_id"))),
      // canonical representative per dup cluster (longest text, tie→min id)
      "q_cluster_reps" -> ((s: SparkSession, d: String) =>
        TrainingOps.clusterRepresentatives(t(s, d, "documents"),
          TrainingOps.dupClusters(
            TrainingOps.minhashLshPairs(t(s, d, "documents")).where(col("est_jaccard") >= 0.5)))),
      // per-language deterministic keep-rates (training-mix rebalancing)
      "q_stratified_sample" -> ((s: SparkSession, d: String) =>
        TrainingOps.stratifiedSample(t(s, d, "documents"), "lang",
          Seq("en" -> "80000000", "de" -> "40000000"), "20000000")
          .select(col("doc_id"), col("lang"))),
      "q_word_diversity" -> ((s: SparkSession, d: String) =>
        TrainingOps.wordDiversity(t(s, d, "documents"))),
      // sequence packing: running-token-total chunk assignment per source
      "q_token_chunks" -> ((s: SparkSession, d: String) =>
        TrainingOps.tokenBudgetChunks(t(s, d, "documents"), budget = 256)),
      // PII scrub, non-vacuous via planted rows (corpus text has no PII);
      // 900004 also plants the clock-time IPv6 near-miss
      "q_scrub_pii" -> ((s: SparkSession, d: String) => {
        import s.implicits._
        val planted = Seq(
          (900001L, "mail alice.smith+x@sub.example.co.uk or see https://ex.com/a_b?x=1&y=2 now"),
          (900002L, "no pii in this row"),
          (900003L, "call +1-555-123-4567 or (555) 867-5309 now"),
          (900004L, "hosts 10.0.0.1 and fe80:0:0:0:0:0:0:1 up at 12:30:45")).toDF("doc_id", "text")
        TrainingOps.scrubPii(
          t(s, d, "documents").select(col("doc_id"), col("text")).unionByName(planted))
      }),
      // benchmark decontamination: the eval set is the 2 lowest-id corpus
      // docs, so the scrub provably drops them (and their near-copies)
      "q_decontaminate" -> ((s: SparkSession, d: String) => {
        val docs = t(s, d, "documents")
        TrainingOps.decontaminate(docs, docs.orderBy(col("doc_id")).limit(2))
          .select(col("doc_id"))
      }),
      // same semantics through the bloom pre-filter scale path (exact
      // verify kills the FPs) — shares the exact-formulation oracle
      "q_decontaminate_bloom" -> ((s: SparkSession, d: String) => {
        val docs = t(s, d, "documents")
        TrainingOps.decontaminateBloom(docs, docs.orderBy(col("doc_id")).limit(2))
          .select(col("doc_id"))
      }),
      // Gopher-style repetition filter inputs
      "q_repetition" -> ((s: SparkSession, d: String) =>
        TrainingOps.repetitionSignals(t(s, d, "documents"))),
      // cross-snapshot NEAR dedup: prior snapshot = doc_id < 250, incoming
      // batch = doc_id >= 250; incoming near-copies of prior docs drop
      // (corpus near-dup pairs straddle the cutoff, so non-vacuous)
      "q_dedup_near_vs_prior" -> ((s: SparkSession, d: String) => {
        val all = t(s, d, "documents")
        TrainingOps.dedupNearVsPrior(
          all.where(col("doc_id") >= 250), all.where(col("doc_id") < 250),
          threshold = 0.5)
          .select(col("doc_id"))
      }),
      // duplicate n-gram fraction (exact-substring-dedup proxy): planted
      // 14-token pair sharing 1 of its 2 13-grams pins a fractional score
      // (corpus exact-dup texts pin 1.0, unique docs pin 0.0)
      "q_dup_ngram_fraction" -> ((s: SparkSession, d: String) => {
        import s.implicits._
        val planted = Seq(
          (920001L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi"),
          (920002L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu omega"))
          .toDF("doc_id", "text")
        TrainingOps.dupNgramFraction(
          t(s, d, "documents").select(col("doc_id"), col("text")).unionByName(planted))
      }),
      // mojibake repair (native codegen graft_fix_mojibake): planted
      // single-encoded, 3-byte-sequence and double-encoded corruptions
      // repair; healthy accented text and ASCII are fixpoints (the whole
      // ASCII corpus passes through byte-identical)
      "q_fix_mojibake" -> ((s: SparkSession, d: String) => {
        import s.implicits._
        val planted = Seq(
          (950001L, "Caf\u00c3\u00a9"),                    // utf8(e-acute) read as cp1252
          (950002L, "don\u00e2\u20ac\u2122t stop"),        // utf8(U+2019) read as cp1252
          (950003L, "Caf\u00c3\u0192\u00c2\u00a9"),        // double-encoded e-acute
          (950004L, "Caf\u00e9 propre"),                   // healthy text: fixpoint
          (950005L, "plain ascii")).toDF("doc_id", "text")
        TrainingOps.fixMojibake(
          t(s, d, "documents").select(col("doc_id"), col("text")).unionByName(planted))
      }),
      // small-file compaction planning: per-partition byte-prefix-sum
      // binning in deterministic file order (merge task = one (part,bin))
      "q_compaction_plan" -> ((s: SparkSession, d: String) => {
        val files = t(s, d, "documents").select(
          col("source").as("part"),
          concat(lit("f"), lpad(col("doc_id").cast("string"), 6, "0")).as("file"),
          octet_length(col("text")).cast("long").as("bytes"))
        TrainingOps.compactionPlan(files, targetBytes = 4096)
      }),
      // curriculum sharding: 4 quality tranches by integer token count —
      // score-cardinality aggregation + broadcast map, never a global sort
      "q_curriculum_shards" -> ((s: SparkSession, d: String) => {
        TrainingOps.curriculumShards(
            t(s, d, "documents").select(col("doc_id"), col("text")),
            expr("length(text) - length(replace(text, ' ', '')) + 1"), k = 4)
          .select(col("doc_id"), col("shard"))
      }),
      // Unicode NFC canonicalization (native codegen graft_nfc; ASCII
      // short-circuits): planted decomposed-é and Hangul-jamo rows compose,
      // precomposed/ASCII rows pass through byte-identical
      "q_nfc_normalize" -> ((s: SparkSession, d: String) => {
        import s.implicits._
        val planted = Seq(
          (940001L, "cafe\u0301 latte"), // decomposed e + combining acute
          (940002L, "caf\u00e9"),        // already precomposed
          (940003L, "ascii only"),
          (940004L, "\u1100\u1161")).toDF("doc_id", "text") // Hangul jamo -> U+AC00
        TrainingOps.normalizeNfc(
          t(s, d, "documents").select(col("doc_id"), col("text")).unionByName(planted))
      }),
      // exact-substring duplicate REMOVAL (Lee et al. ExactSubstr via gram
      // cover): planted cross-doc pair shares a 15-token run (3 duplicated
      // 13-gram starts merge into ONE removed span, unique prefix/suffix
      // survive) and a self-repetition doc pins the within-document path
      // (its separator token is outside every duplicated window and stays)
      "q_remove_dup_spans" -> ((s: SparkSession, d: String) => {
        import s.implicits._
        val planted = Seq(
          (930001L, "p1 p2 p3 c01 c02 c03 c04 c05 c06 c07 c08 c09 c10 c11 c12 c13 c14 c15 s1 s2"),
          (930002L, "q1 q2 c01 c02 c03 c04 c05 c06 c07 c08 c09 c10 c11 c12 c13 c14 c15 r1 r2 r3"),
          (930003L, "w01 w02 w03 w04 w05 w06 w07 w08 w09 w10 w11 w12 w13 mid " +
            "w01 w02 w03 w04 w05 w06 w07 w08 w09 w10 w11 w12 w13"))
          .toDF("doc_id", "text")
        TrainingOps.removeDupNgramSpans(
          t(s, d, "documents").select(col("doc_id"), col("text")).unionByName(planted))
      }),
      // surgical span-level decontamination: eval set = the 2 lowest-id
      // docs; a planted doc embedding eval text keeps its own intro and
      // closing tokens while the leaked middle is cut (the eval docs and
      // their corpus exact-dups self-scrub to "")
      "q_remove_contaminated_spans" -> ((s: SparkSession, d: String) => {
        val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
        val planted = docs.orderBy(col("doc_id")).limit(1)
          .select(lit(960001L).as("doc_id"),
            concat(lit("intro marker "), col("text"), lit(" closing marker")).as("text"))
        TrainingOps.removeContaminatedSpans(
          docs.unionByName(planted), docs.orderBy(col("doc_id")).limit(2))
      }),
      // corpus snapshot diff (incremental-recrawl CDC): prev drops the
      // doc_id%7 residue (those surface as added), cur drops %11 (removed)
      // and rewrites %5 texts (changed); unchanged rows never leave the op
      "q_snapshot_diff" -> ((s: SparkSession, d: String) => {
        val docs = t(s, d, "documents")
        val prev = docs.where(col("doc_id") % 7 =!= 0).select(col("doc_id"), col("text"))
        val cur = docs.where(col("doc_id") % 11 =!= 0)
          .select(col("doc_id"),
            when(col("doc_id") % 5 === 0, concat(col("text"), lit(" v2")))
              .otherwise(col("text")).as("text"))
        TrainingOps.snapshotDiff(prev, cur)
      }),
      // scored contamination analysis: eval set = the 2 lowest-id corpus
      // docs, so those rows provably score 1.0 and the near-copies score
      // their overlap fraction
      "q_contamination_score" -> ((s: SparkSession, d: String) => {
        val docs = t(s, d, "documents")
        TrainingOps.contaminationScore(docs, docs.orderBy(col("doc_id")).limit(2))
      }),
      // deterministic token-count-weighted sampling (integer-exact keep
      // decision; longer docs are preferentially retained)
      "q_weighted_sample" -> ((s: SparkSession, d: String) =>
        TrainingOps.weightedSample(t(s, d, "documents"),
          size(split(lower(col("text")), "\\s+")).cast("long"), maxWeight = 32)
          .select(col("doc_id"))),
      // cross-document boilerplate line removal (CCNet-style line-level
      // dedup), non-vacuous via planted multi-line rows sharing a
      // "SUBSCRIBE NOW" line (corpus texts are single-line; corpus-level
      // exact-dup texts are single boilerplate "lines" and scrub to "")
      "q_boilerplate_lines" -> ((s: SparkSession, d: String) => {
        import s.implicits._
        val planted = Seq(
          (910001L, "unique first line\nSUBSCRIBE NOW\nunique second line"),
          (910002L, "another start\nSUBSCRIBE NOW\nanother end"),
          (910003L, "SUBSCRIBE NOW"),
          (910004L, "totally unique document")).toDF("doc_id", "text")
        TrainingOps.removeBoilerplateLines(
          t(s, d, "documents").select(col("doc_id"), col("text")).unionByName(planted))
      }),
      // context-window assembly over the token-budget chunks
      "q_packed_text" -> ((s: SparkSession, d: String) =>
        TrainingOps.packChunks(t(s, d, "documents"), budget = 256)),
      // BPE tokenizer training: the first 2 learned merge rules + counts
      "q_bpe_merges" -> ((s: SparkSession, d: String) =>
        TrainingOps.bpeMerges(t(s, d, "documents"), numMerges = 2)),
      // corpus-wide BPE application of a fixed ranked merge chain — the
      // heavy production half of the tokenizer loop (merges are plan
      // literals; one narrow codegen pass + one doc_id aggregation);
      // replace-chain semantics, DuckDB-verbatim
      "q_bpe_encode" -> ((s: SparkSession, d: String) =>
        TrainingOps.bpeEncode(t(s, d, "documents"), Seq("e r", "t h", "th e"))),
      // per-source corpus statistics; every value is exact IEEE-matchable:
      // counts are longs, avg = exact long-sum / count (one double divide),
      // median of integer token counts = (a+b)/2 with all terms exact
      "q_source_stats" -> ((s: SparkSession, d: String) => {
        val nTokens = (length(col("text")) - length(regexp_replace(col("text"), " ", "")) + 1).cast("long")
        t(s, d, "documents").select(col("source"), nTokens.as("nt"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            min(col("nt")).as("min_tokens"),
            max(col("nt")).as("max_tokens"),
            (sum(col("nt")).cast("double") / count(lit(1))).as("avg_tokens"),
            expr("percentile(nt, 0.5)").as("median_tokens"))
      }),
      // AS-OF join (attribution): each event joins the latest same-user
      // purchase at-or-before it — union-sort shape, one shuffle, no
      // theta-join; oracle is DuckDB's native ASOF LEFT JOIN
      "q_asof_attribution" -> ((s: SparkSession, d: String) => {
        val ev = t(s, d, "events").select(col("event_id"), col("user_id"),
          unix_micros(col("ts").cast("timestamp")).as("tus"))
        val purchases = t(s, d, "events").where(col("event_type") === "purchase")
          .select(col("user_id").as("p_user"),
            unix_micros(col("ts").cast("timestamp")).as("p_tus"),
            col("event_id").as("purchase_id"))
        JoinOps.asofJoin(ev, "user_id", "tus", purchases, "p_user", "p_tus")
          .select(col("event_id"), col("user_id"), col("purchase_id"),
            (col("tus") - col("p_tus")).as("gap_us"))
      }),
      // pure range-containment join (no equality key): events inside each
      // signup's 2-hour window, via hourly-bucketed equi-join — counts +
      // order-independent extrema only (double sums aren't cross-engine)
      "q_range_join_window" -> ((s: SparkSession, d: String) => {
        val tus = unix_micros(col("ts").cast("timestamp"))
        val ev = t(s, d, "events").select(col("event_id"), tus.as("tus"))
        val anchors = t(s, d, "events").where(col("event_type") === "signup")
          .select(col("event_id").as("anchor_id"), tus.as("s_us"),
            (tus + lit(7200000000L)).as("e_us"))
        val matched = JoinOps.rangeJoin(ev, "tus", anchors, "s_us", "e_us",
          bucketUs = 3600000000L)
          .groupBy(col("anchor_id"))
          .agg(count(lit(1)).as("n_events"),
            min(col("event_id")).as("min_event_id"),
            max(col("event_id")).as("max_event_id"))
        anchors.select(col("anchor_id")).join(matched, Seq("anchor_id"), "left")
          .select(col("anchor_id"), coalesce(col("n_events"), lit(0L)).as("n_events"),
            col("min_event_id"), col("max_event_id"))
      }),
      // HyperLogLog sketch: the mergeable register table itself (every row
      // cross-engine exact — MD5 split + bin()-based leading-zero count)
      "q_hll_registers" -> ((s: SparkSession, d: String) =>
        SketchOps.hllRegisters(t(s, d, "documents"), col("text"))),
      // ...and the estimate: exact integer harmonic pieces + ONE double
      // division by a driver-embedded literal (bitwise-reproducible)
      "q_hll_estimate" -> ((s: SparkSession, d: String) =>
        SketchOps.hllEstimate(SketchOps.hllRegisters(t(s, d, "documents"), col("text")))),
      // mergeable log2 length histogram: the corpus shape in <=64 rows
      "q_log_histogram" -> ((s: SparkSession, d: String) =>
        SketchOps.logHistogram(t(s, d, "documents"), col("n_chars"))),
      // Count-Min sketch: the full counter matrix over word occurrences
      "q_cms_sketch" -> ((s: SparkSession, d: String) =>
        SketchOps.cmsSketch(t(s, d, "documents")
          .select(explode(split(lower(col("text")), "\\s+")).as("w"))
          .where(col("w") =!= ""), col("w"))),
      // ...point-queried for the exact top-10 terms: CMS estimate beside
      // the true count (est >= true always; equal when no bucket collision)
      "q_cms_heavy" -> ((s: SparkSession, d: String) => {
        // ONE tokenizing corpus pass (guide §1.2): the exact word-count
        // aggregate feeds the sketch (cmsSketchFromCounts — counters
        // identical by construction), the top-10 probes, AND the carried
        // true_count — the r5 shape paid three tokenize+aggregate scans
        // (sketch, probes, true-count join) for the same numbers. The two
        // word-count consumers share one Exchange (AQE stage reuse).
        val wc = t(s, d, "documents")
          .select(explode(split(lower(col("text")), "\\s+")).as("w"))
          .where(col("w") =!= "")
          .groupBy(col("w")).agg(count(lit(1)).as("n"))
        val probes = wc.orderBy(col("n").desc, col("w")).limit(10)
          .select(col("w").as("item"), col("n"))
        val sketch = SketchOps.cmsSketchFromCounts(wc, col("w"), col("n"))
        probes.select(col("item"), col("n"),
            explode(sequence(lit(0), lit(3))).as("d"))
          .withColumn("bucket", SketchOps.cmsBucket(col("d"), col("item"), 256))
          .join(broadcast(sketch), Seq("d", "bucket"))
          .groupBy(col("item"))
          .agg(min(col("cnt")).as("cms_count"), max(col("n")).as("true_count"))
      }),
      // integer-exact quantile brackets read off the mergeable log2
      // histogram — the cross-engine-reproducible percentile answer
      // (percentile_approx never is); windows run over <=65 rows
      "q_hist_quantiles" -> ((s: SparkSession, d: String) =>
        SketchOps.logHistogramQuantiles(t(s, d, "documents"), col("n_chars"))),
      // Morton/Z-order clustering key + file bin over two bucketed
      // dimensions — the multi-dim layout that lets min/max file stats
      // prune slab predicates on EITHER column (pruning factor pinned in
      // LayoutOpsSpec); pure shift/and/add, whole-stage codegen
      "q_zorder_key" -> ((s: SparkSession, d: String) =>
        LayoutOps.zorderLayout(t(s, d, "documents"),
            col("n_chars") % lit(256L), col("doc_id") % lit(256L),
            bits = 8, binBits = 6)
          .select(col("doc_id"), col("zkey"), col("zbin"))),
      // skew-salted join: IDENTICAL result to the plain equi-join (the
      // oracle is the plain join), physically spread over `salts`
      // sub-keys so one Zipf-hot key cannot stall a stage; deterministic
      // salt = xxhash64 of the row id, so reruns partition identically
      "q_salted_join" -> ((s: SparkSession, d: String) => {
        val li = t(s, d, "lineitem").select(
          col("l_partkey").as("pk"),
          cents(col("l_extendedprice")).as("price_cents"),
          concat(col("l_orderkey"), lit(":"), col("l_linenumber")).as("row_id"))
        val pt = t(s, d, "part").select(col("p_partkey").as("pk"), col("p_brand"))
        JoinOps.saltedJoin(li, pt, Seq("pk"), "row_id", salts = 8)
          .groupBy(col("p_brand"))
          .agg(count(lit(1)).as("n"), sum(col("price_cents")).as("revenue_cents"))
      }),
      // bucketed-table co-located join: both sides written bucketBy(8,
      // key) once, so the join AND the keyed aggregation run with ZERO
      // ShuffleExchange (pinned in PlanSpec) — the pay-the-shuffle-once
      // layout for every dimension table a pipeline joins per run
      "q_bucketed_join" -> ((s: SparkSession, d: String) => {
        val tmp = java.nio.file.Files.createTempDirectory("graft-bucket").toString
        val nonce = java.lang.Long.toHexString(System.nanoTime())
        val to = s"bkt_orders_$nonce"
        val tc = s"bkt_cust_$nonce"
        recycle("graft-bucket") { () =>
          s.sql(s"DROP TABLE IF EXISTS $to"); s.sql(s"DROP TABLE IF EXISTS $tc")
          deleteDir(tmp)
        }
        LayoutOps.saveBucketed(t(s, d, "orders")
            .select(col("o_custkey"), cents(col("o_totalprice")).as("price_cents")),
          s"$tmp/o", to, "o_custkey", numBuckets = 8)
        LayoutOps.saveBucketed(t(s, d, "customer")
            .select(col("c_custkey").as("o_custkey"), col("c_name")),
          s"$tmp/c", tc, "o_custkey", numBuckets = 8)
        s.table(to).join(s.table(tc), Seq("o_custkey"))
          .groupBy(col("o_custkey"), col("c_name"))
          .agg(count(lit(1)).as("n_orders"), sum(col("price_cents")).as("revenue_cents"))
      }),
      // fixed-point BM25 top-k retrieval: per-term scores quantized to
      // integer micro-units before summation (order-independent), idf as
      // the log-free Robertson ratio so every op is exactly-rounded IEEE
      // and the oracle is hash-exact; only query-term rows ever shuffle
      "q_bm25_topk" -> ((s: SparkSession, d: String) => {
        import s.implicits._
        val qt = bm25Queries.toDF("qid", "term")
        SearchOps.bm25TopK(t(s, d, "documents"), qt, k = 10)
      }),
      // the production retrieval shape: tf index + stats persisted ONCE
      // per corpus snapshot (parquet round trip), every query run reads
      // index-sized parquet — zero corpus scans, zero tokenization in
      // the consumer plan (PlanSpec); identical scores, shared oracle
      "q_bm25_indexed" -> ((s: SparkSession, d: String) => {
        import s.implicits._
        val tmp = java.nio.file.Files.createTempDirectory("graft-bm25idx").toString
        recycle("graft-bm25idx")(() => deleteDir(tmp))
        val docs = t(s, d, "documents")
        SearchOps.buildTfIndex(docs).write.mode("overwrite").parquet(s"$tmp/index")
        // stats derive from the persisted index (one tokenizing corpus
        // scan total instead of two — guide §1.2); values identical by
        // construction, so the shared oracle is untouched
        SearchOps.corpusStatsFromIndex(s.read.parquet(s"$tmp/index"), docs)
          .write.mode("overwrite").parquet(s"$tmp/stats")
        SearchOps.bm25TopKFromIndex(s.read.parquet(s"$tmp/index"),
          s.read.parquet(s"$tmp/stats"), bm25Queries.toDF("qid", "term"), k = 10)
      }),
      // incremental sketch maintenance: merge(stats(half A), stats(half
      // B)) must equal stats(corpus) BIT FOR BIT — the whole-corpus SQL
      // is the oracle, so a broken merge law cannot hide
      "q_hll_merge" -> ((s: SparkSession, d: String) => {
        val docs = t(s, d, "documents")
        SketchOps.mergeHllRegisters(
          SketchOps.hllRegisters(docs.where(col("doc_id") % 2 === 0), col("text")),
          SketchOps.hllRegisters(docs.where(col("doc_id") % 2 === 1), col("text")))
      }),
      "q_hist_merge" -> ((s: SparkSession, d: String) => {
        val docs = t(s, d, "documents")
        SketchOps.mergeLogHistograms(
          SketchOps.logHistogram(docs.where(col("doc_id") % 2 === 0), col("n_chars")),
          SketchOps.logHistogram(docs.where(col("doc_id") % 2 === 1), col("n_chars")))
      }),
      "q_cms_merge" -> ((s: SparkSession, d: String) => {
        val docs = t(s, d, "documents")
        def words(half: DataFrame) = half
          .select(explode(split(lower(col("text")), "\\s+")).as("w"))
          .where(col("w") =!= "")
        SketchOps.mergeCmsSketches(
          SketchOps.cmsSketch(words(docs.where(col("doc_id") % 2 === 0)), col("w")),
          SketchOps.cmsSketch(words(docs.where(col("doc_id") % 2 === 1)), col("w")))
      }),
      // deterministic train/val/test split: content-addressed hex ranges
      // — disjoint/exhaustive by construction, repartition- and
      // snapshot-stable (a doc keeps its split as the corpus changes)
      "q_split_corpus" -> ((s: SparkSession, d: String) =>
        TrainingOps.splitCorpus(t(s, d, "documents"), "doc_id",
            Seq("a0000000" -> "train", "d0000000" -> "val"), "test")
          .select(col("doc_id"), col("split"))),
      // explicit zone map over the z-ordered layout + range-pruning
      // verdicts: the planner-food form of the LayoutOpsSpec claim —
      // a [64,95] slab on EITHER dimension keeps only a bin subset
      "q_zone_map" -> ((s: SparkSession, d: String) => {
        val laid = LayoutOps.zorderLayout(
          t(s, d, "documents")
            .withColumn("a", col("n_chars") % lit(256L))
            .withColumn("b", col("doc_id") % lit(256L)),
          col("a"), col("b"), bits = 8, binBits = 6)
        val zm = LayoutOps.zoneMap(laid, col("zbin"), Seq("a", "b"))
        LayoutOps.rangeKeep(LayoutOps.rangeKeep(zm, "a", 64, 95), "b", 64, 95)
          .select(col("zbin"), col("n"), col("a_min"), col("a_max"),
            col("b_min"), col("b_max"), col("keep_a"), col("keep_b"))
      }),
      // URL normalization: deterministic messy-URL synthesis (case, frag,
      // default ports, userinfo — one shared SQL snippet in both engines)
      // through pure-regex parse/canonicalize; zero UDFs, zero shuffles
      "q_url_parse" -> ((s: SparkSession, d: String) =>
        WebOps.parseUrls(t(s, d, "documents")
            .select(col("doc_id"), expr(urlSynthSql).as("url")), col("url"))
          .select(col("doc_id"), col("url"), col("scheme"), col("host"),
            col("domain"), col("url_norm"))),
      // crawl-frontier dedup on the normalized URL (the web-corpus dedup
      // that happens before any content hash): variants collapse, min id
      "q_url_dedup" -> ((s: SparkSession, d: String) =>
        WebOps.dedupByUrl(
          WebOps.parseUrls(t(s, d, "documents")
            .select(col("doc_id"), expr(urlSynthSql).as("url")), col("url")),
          col("doc_id"))),
      // UT1-style domain blocklist: broadcast anti-join on the
      // registrable domain drops every example.org doc
      "q_domain_blocklist" -> ((s: SparkSession, d: String) => {
        implicit val sp: SparkSession = s
        import sp.implicits._
        val blocked = Seq("example.org").toDF("domain")
        WebOps.filterBlockedDomains(
            WebOps.parseUrls(t(s, d, "documents")
              .select(col("doc_id"), expr(urlSynthSql).as("url")), col("url")),
            blocked)
          .select(col("doc_id"), col("host"), col("domain"))
      }),
      // anti-domination sampling: at most 50 docs per registrable domain,
      // picked by content-addressed MD5 rank (rerun-stable; WindowGroupLimit
      // keeps a mega-domain from materializing past the cap)
      "q_domain_cap" -> ((s: SparkSession, d: String) =>
        WebOps.domainCapSample(
            WebOps.parseUrls(t(s, d, "documents")
              .select(col("doc_id"), expr(urlSynthSql).as("url")), col("url")),
            cap = 50, col("doc_id"))
          .select(col("doc_id"), col("domain"), col("rk"))),
      // politeness-scheduled frontier: one url per host per fetch round,
      // priority-ordered, per-host depth capped at 50 (WindowGroupLimit
      // prunes mega-hosts at the cap on both sides of the shuffle)
      "q_frontier_schedule" -> ((s: SparkSession, d: String) => {
        val frontier = t(s, d, "documents").select(
          concat(lit("https://"), col("source"), lit(".example.com/d/"),
            col("doc_id").cast("string")).as("url"),
          concat(col("source"), lit(".example.com")).as("host"),
          (col("doc_id") % 97).as("priority"))
        WebOps.frontierSchedule(frontier, col("priority"), maxRounds = 50)
      }),
      // interleaved-corpus referential integrity: dangling span refs and
      // orphan media blobs classified by one full-outer join on DISTINCT
      // refs; consistent refs produce no output
      "x_ref_integrity" -> ((s: SparkSession, _: String) => {
        implicit val sp: SparkSession = s
        import sp.implicits._
        val docs = sp.createDataset(Seq(
          Model.DocRow("d1", Seq(Model.InSpan("text", "hello", "", 0),
            Model.InSpan("pdf", "", "m1", 1),
            Model.InSpan("image", "", "m_missing", 2))),
          Model.DocRow("d2", Seq(Model.InSpan("pdf", "", "m2", 0),
            Model.InSpan("pdf", "", "m1", 1))))).toDF()
        val media = sp.createDataset(Seq(
          Model.MediaRow("m1", Array[Byte](1), 0),
          Model.MediaRow("m2", Array[Byte](2), 0),
          Model.MediaRow("m_orphan", Array[Byte](3), 0))).toDF()
        MediaOps.refIntegrity(docs, media)
      }),
      // robots.txt compliance: parse wildcard-agent disallow groups from
      // raw robots bodies, then broadcast-anti-join the frontier on
      // (host, path-prefix) — politeness filtering as a plan, no UDFs
      "x_robots_filter" -> ((s: SparkSession, _: String) => {
        implicit val sp: SparkSession = s
        import sp.implicits._
        val rules = WebOps.parseRobots(robotsFixture(s), col("host"), col("content"))
        val urls = sp.createDataset(robotsUrls).toDF("doc_id", "url")
        WebOps.robotsFilter(WebOps.parseUrls(urls, col("url")), rules)
          .select(col("doc_id"), col("host"), col("url_norm"))
      }),
      // group-independent Sitemap: directives out of the same robots
      // fixture — the URL list parseSitemaps' fetch loop starts from
      "x_robots_sitemaps" -> ((s: SparkSession, _: String) =>
        WebOps.robotsSitemaps(robotsFixture(s), col("host"), col("content"))),
      // RFC 3986 reference resolution: raw in-content hrefs absolutized
      // against their page URL — the step between linkRefs extraction and
      // every frontier op; each case's ground truth is hand-derived
      "x_resolve_urls" -> ((s: SparkSession, _: String) => {
        implicit val sp: SparkSession = s
        import sp.implicits._
        val base = "https://a.com/dir/sub/page.html?q=1"
        val pages = Seq(
          (1L, base, "https://x.org/p"),
          (2L, base, "//cdn.com/img"),
          (3L, base, "/root/x"),
          (4L, base, "?page=2"),
          (5L, base, "#frag"),
          (6L, base, "other.html"),
          (7L, base, "../up.html"),
          (8L, base, "a/b/../c/./d?x=1#f"),
          (9L, "https://a.com", "rel"),
          (10L, "notaurl", "rel"))
          .toDF("doc_id", "url", "href")
        WebOps.resolveUrls(WebOps.parseUrls(pages, col("url")), col("href"))
          .select(col("doc_id"), col("href"), col("resolved"))
      }),
      // the complete crawl-frontier chain as ONE plan: in-content links
      // from raw HTML bytes -> RFC 3986 resolution against the page URL
      // -> URL parse/normalize -> full RFC 9309 robots compliance ->
      // politeness scheduling; every hop hand-derived in the oracle
      "x_frontier_chain" -> ((s: SparkSession, _: String) => {
        implicit val sp: SparkSession = s
        import sp.implicits._
        val pages = Seq(
          ("https://w.com/dir/page.html",
            "<p>intro <a href='a.html'>one</a> <a href='/fish/x'>two</a> " +
              "<a href='https://ext.org/abs'>three</a></p>"),
          ("https://w.com/other.html",
            "<p>more <a href='../up.html'>four</a> <a href='//w.com/proto'>five</a></p>"))
          .toDF("page_url", "html")
        val rules = WebOps.parseRobotsRules(
          Seq(("w.com", "User-agent: *\nDisallow: /fish*")).toDF("host", "content"),
          col("host"), col("content"))
        val hrefs = pages.select(col("page_url"),
          explode(graft.functions.PdfFunctions.htmlLinkRefs(col("html").cast("binary"))).as("href"))
        val resolved = WebOps.resolveUrls(
            WebOps.parseUrls(hrefs, col("page_url")), col("href"))
          .select(col("resolved").as("url"))
        val allowed = WebOps.robotsFilterFull(
          WebOps.parseUrls(resolved, col("url")), rules, idCol = "url")
        WebOps.frontierSchedule(
          allowed.select(col("url"), col("host"), lit(1L).as("priority")),
          col("priority"), maxRounds = 10)
      }),
      // RFC 9309 FULL matching: * wildcards, trailing-$ anchors, Allow
      // overrides, longest-match precedence (allow wins length ties) —
      // each URL's ground truth is hand-derived in the VALUES oracle
      "x_robots_full" -> ((s: SparkSession, _: String) => {
        implicit val sp: SparkSession = s
        import sp.implicits._
        val robots = Seq(
          ("w.com",
            "User-agent: *\nDisallow: /*.php$\nDisallow: /fish*\nAllow: /fish/ok\n" +
              "Disallow: /a$\nAllow: /dual\nDisallow: /dual"),
          ("open.org", "User-agent: *\nAllow: /"))
          .toDF("host", "content")
        val rules = WebOps.parseRobotsRules(robots, col("host"), col("content"))
        val urls = Seq(
          (1L, "https://w.com/file.php"),     // dropped: /*.php$ anchored match
          (2L, "https://w.com/file.php?q=1"), // kept: query breaks the $ anchor
          (3L, "https://w.com/fishheads"),    // dropped: /fish* wildcard
          (4L, "https://w.com/fish/ok/x"),    // kept: allow /fish/ok (8) beats /fish* (6)
          (5L, "https://w.com/a"),            // dropped: /a$ exact
          (6L, "https://w.com/ab"),           // kept: /a$ is end-anchored
          (7L, "https://w.com/dual"),         // kept: equal length -> allow wins
          (8L, "https://w.com/"),             // kept: no rule matches
          (9L, "https://open.org/x"),         // kept: allow-all
          (10L, "https://nada.io/y"))         // kept: no rules for host
          .toDF("doc_id", "url")
        WebOps.robotsFilterFull(WebOps.parseUrls(urls, col("url")), rules)
          .select(col("doc_id"), col("host"), col("url_norm"))
      }),
      // link-graph degrees (popularity prior): union + ONE node-keyed
      // aggregation with map-side partial sums
      "q_graph_degrees" -> ((s: SparkSession, d: String) => {
        t(s, d, "documents").createOrReplaceTempView("documents")
        GraphOps.degrees(s.sql(edgeSynthSql))
      }),
      // co-citation similarity: LSH-shaped bucket self-join on dst with
      // the hub cap applied inside the join's own exchange
      "q_graph_cocitation" -> ((s: SparkSession, d: String) => {
        t(s, d, "documents").createOrReplaceTempView("documents")
        GraphOps.coCitation(s.sql(edgeSynthSql))
      }),
      // weakly-connected components via the pointer-doubling label
      // propagation proven for dedup clusters
      "q_graph_components" -> ((s: SparkSession, d: String) => {
        t(s, d, "documents").createOrReplaceTempView("documents")
        GraphOps.components(s.sql(edgeSynthSql))
      }),
      // integer fixed-point PageRank: floor-division contributions make
      // the WHOLE rank table bitwise-reproducible (float PageRank is
      // summation-order-dependent and could never be hash-compared)
      "q_graph_pagerank" -> ((s: SparkSession, d: String) => {
        t(s, d, "documents").createOrReplaceTempView("documents")
        GraphOps.pageRankFixedPoint(s.sql(edgeSynthSql), iterations = 3)
      }),
      "q_vocab_topk" -> ((s: SparkSession, d: String) =>
        TrainingOps.vocabTopK(t(s, d, "documents"), k = 100)),
      // exact integer core of TF-IDF: tf + df per term, vocabulary-sized
      "q_term_doc_freq" -> ((s: SparkSession, d: String) =>
        TrainingOps.termDocFreq(t(s, d, "documents"))),
      // whole inverted index hash-compared: sorted comma-joined postings
      // are deterministic and cross-engine exact; df cap = stopword cut
      "q_inverted_index" -> ((s: SparkSession, d: String) =>
        TrainingOps.invertedIndex(t(s, d, "documents"), maxDf = 400L)),
      "q_normalize" -> ((s: SparkSession, d: String) =>
        TrainingOps.normalize(t(s, d, "documents"))),
      // the composed normalize→dedup→quality→sample cleaning pipeline
      "q_pipeline_clean" -> ((s: SparkSession, d: String) =>
        TrainingOps.cleanCorpus(t(s, d, "documents"))),
      // REAL image decode (JDK ImageIO) over synthetic PNGs
      "q_media_image" -> ((s: SparkSession, _: String) => {
        implicit val sp: SparkSession = s
        import sp.implicits._
        val media = sp.createDataset(syntheticImages.map { case (ref, bytes) =>
          (ref, "image/png", bytes)
        }).toDF("media_ref", "kind", "bytes")
        MediaOps.featurize(media, dim = 16).toDF()
          .select(col("media_ref"), col("width"), col("height"),
            element_at(col("feature"), 1).as("f_first"),
            element_at(col("feature"), 8).as("f_mid"),
            element_at(col("feature"), 16).as("f_last"))
      }),
      // REAL aspect-preserving image resize (JDK) over synthetic PNGs;
      // compared via decode-exact dims + CRC32 of the re-encoded bytes
      "q_media_resize" -> ((s: SparkSession, _: String) => {
        implicit val sp: SparkSession = s
        import sp.implicits._
        val media = sp.createDataset(syntheticImages.map { case (ref, bytes) =>
          (ref, "image/png", bytes)
        }).toDF("media_ref", "kind", "bytes")
        MediaOps.resizeImages(media, maxW = 20, maxH = 20).toDF()
          .select(col("media_ref"), col("in_w"), col("in_h"), col("out_w"), col("out_h"),
            crc32(col("out_bytes")).as("out_crc"),
            octet_length(col("out_bytes")).as("out_len"))
      }),
      // video frame sampling: stubbed decode, REAL one-row→N-frames
      // fan-out plumbing with a bounded cap
      "q_media_frames" -> ((s: SparkSession, _: String) => {
        implicit val sp: SparkSession = s
        import sp.implicits._
        val media = sp.createDataset((PdfBuilder.all :+ PdfBuilder.f16Garbage).map(f =>
          (f.name, "video/mp4", f.bytes))).toDF("media_ref", "kind", "bytes")
        MediaOps.frameSample(media, everyNth = 7, maxFrames = 5).toDF()
      }),
      // REAL multi-frame sampling over animated GIFs (pure-JDK indexed
      // frame decode): decoded dims + raster CRCs, by-construction oracle
      "q_media_gif_frames" -> ((s: SparkSession, _: String) => {
        implicit val sp: SparkSession = s
        import sp.implicits._
        val media = sp.createDataset(syntheticGifs.map { case (ref, bytes) =>
          (ref, "image/gif", bytes)
        }).toDF("media_ref", "kind", "bytes")
        MediaOps.frameSample(media, everyNth = 3, maxFrames = 3).toDF()
      }),
      // SQL-UDF surface, driver-gated with an exact VALUES oracle
      "x_sql_udf" -> ((s: SparkSession, _: String) => {
        graft.functions.PdfFunctions.register(s)
        import s.implicits._
        s.createDataset(fx(udfFixtures: _*).map(f => (f.name, f.bytes)))
          .toDF("media_ref", "bytes").createOrReplaceTempView("x_udf_media")
        s.sql("SELECT media_ref, pdf2txt(bytes) AS text, pdf2txt_safe(bytes) AS text_safe FROM x_udf_media")
      }),
      // watermarked event-time windowed aggregation (streaming primitive)
      "x_stream_window" -> ((s: SparkSession, _: String) => withShufflePartitions(s, 4) {
        import s.implicits._
        val tmp = java.nio.file.Files.createTempDirectory("graft-swin").toString
        s.createDataset(streamDocs).toDF().coalesce(1).write.parquet(s"$tmp/in")
        val schema = org.apache.spark.sql.Encoders.product[graft.streaming.StreamingOps.TimedDoc].schema
        val sink = "x_stream_window_" + java.lang.Long.toHexString(System.nanoTime())
        recycle("graft-swin") { () => s.catalog.dropTempView(sink); deleteDir(tmp) }
        val q = graft.streaming.StreamingOps.windowedDocMetrics(
          s.readStream.schema(schema).parquet(s"$tmp/in"))
          .writeStream.format("memory").queryName(sink)
          .outputMode("complete")
          .option("checkpointLocation", s"$tmp/_checkpoint")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        s.table(sink)
      }),
      // per-window streaming Count-Min sketch: heavy-hitter state bounded
      // at depth×width counters per open window regardless of traffic
      "x_stream_cms" -> ((s: SparkSession, _: String) => withShufflePartitions(s, 4) {
        import s.implicits._
        val tmp = java.nio.file.Files.createTempDirectory("graft-scms").toString
        s.createDataset(streamDocs).toDF().coalesce(1).write.parquet(s"$tmp/in")
        val schema = org.apache.spark.sql.Encoders.product[graft.streaming.StreamingOps.TimedDoc].schema
        val sink = "x_stream_cms_" + java.lang.Long.toHexString(System.nanoTime())
        recycle("graft-scms") { () => s.catalog.dropTempView(sink); deleteDir(tmp) }
        val q = graft.streaming.StreamingOps.windowedCms(
          s.readStream.schema(schema).parquet(s"$tmp/in"))
          .writeStream.format("memory").queryName(sink)
          .outputMode("complete")
          .option("checkpointLocation", s"$tmp/_checkpoint")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        s.table(sink)
      }),
      // cross-batch streaming exact dedup via flatMapGroupsWithState
      // stream-stream inner join: doc ingest enriched by a late-arriving
      // label stream, keyed on doc_id and time-bounded to a 1-hour lag —
      // both watermarks + the bound keep the join state finite; append
      // mode (the only stream-stream inner mode) via AvailableNow
      "x_stream_join" -> ((s: SparkSession, _: String) => withShufflePartitions(s, 4) {
        import s.implicits._
        val tmp = java.nio.file.Files.createTempDirectory("graft-sjoin").toString
        s.createDataset(streamDocs).toDF().coalesce(1).write.parquet(s"$tmp/docs")
        s.createDataset(streamLabels).toDF().coalesce(1).write.parquet(s"$tmp/labels")
        val docSchema = org.apache.spark.sql.Encoders.product[graft.streaming.StreamingOps.TimedDoc].schema
        val labelSchema = org.apache.spark.sql.Encoders.product[graft.streaming.StreamingOps.DocLabel].schema
        val sink = "x_stream_join_" + java.lang.Long.toHexString(System.nanoTime())
        recycle("graft-sjoin") { () => s.catalog.dropTempView(sink); deleteDir(tmp) }
        val q = graft.streaming.StreamingOps.joinLabels(
            s.readStream.schema(docSchema).parquet(s"$tmp/docs"),
            s.readStream.schema(labelSchema).parquet(s"$tmp/labels"))
          .writeStream.format("memory").queryName(sink)
          .outputMode("append")
          .option("checkpointLocation", s"$tmp/_checkpoint")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        s.table(sink)
      }),
      "x_stream_dedup" -> ((s: SparkSession, _: String) => withShufflePartitions(s, 4) {
        import s.implicits._
        val tmp = java.nio.file.Files.createTempDirectory("graft-sdedup").toString
        recycle("graft-sdedup")(() => deleteDir(tmp))
        // two checkpointed runs = two (or more) micro-batches: proves state
        // survives restart AND the first-seen-wins contract (wave 2 carries
        // a smaller-id duplicate that must stay suppressed)
        s.createDataset(streamDocs).toDF().coalesce(1).write.mode("append").parquet(s"$tmp/in")
        graft.streaming.StreamingOps.runDedupStream(s, s"$tmp/in", s"$tmp/out")
        s.createDataset(streamDedupWave2).toDF().coalesce(1).write.mode("append").parquet(s"$tmp/in")
        graft.streaming.StreamingOps.runDedupStream(s, s"$tmp/in", s"$tmp/out")
        s.read.parquet(s"$tmp/out/deduped").select(col("doc_id"), col("text"))
      }),
      // cross-batch streaming NEAR-dedup: minhash-signature state keys —
      // wave 2's doc 3 is a different text with the same shingle set as
      // doc 1 and must be suppressed across the checkpointed restart
      "x_stream_neardedup" -> ((s: SparkSession, _: String) => withShufflePartitions(s, 4) {
        import s.implicits._
        val tmp = java.nio.file.Files.createTempDirectory("graft-sneardedup").toString
        recycle("graft-sneardedup")(() => deleteDir(tmp))
        s.createDataset(nearStreamWave1).toDF().coalesce(1).write.mode("append").parquet(s"$tmp/in")
        graft.streaming.StreamingOps.runDedupStream(s, s"$tmp/in", s"$tmp/out", near = true)
        s.createDataset(nearStreamWave2).toDF().coalesce(1).write.mode("append").parquet(s"$tmp/in")
        graft.streaming.StreamingOps.runDedupStream(s, s"$tmp/in", s"$tmp/out", near = true)
        s.read.parquet(s"$tmp/out/deduped").select(col("doc_id"), col("text"))
      }),
      // streaming boilerplate scrub: the line-hash set trained by a
      // batch job (boilerplateLineHashes over a "prior snapshot") rides
      // as a plan literal inside a stateless streaming rewrite, across
      // two checkpointed AvailableNow waves
      "x_stream_boilerplate" -> ((s: SparkSession, _: String) => withShufflePartitions(s, 4) {
        import s.implicits._
        val tmp = java.nio.file.Files.createTempDirectory("graft-sboiler").toString
        recycle("graft-sboiler")(() => deleteDir(tmp))
        val prior = Seq((1L, "x\nFOOTER LINE"), (2L, "FOOTER LINE\ny"))
          .toDF("doc_id", "text")
        val hashes = TrainingOps.boilerplateLineHashes(prior).as[Long].collect()
        def ts(m: Int) = new java.sql.Timestamp(1767225600000L + m * 60000L)
        import graft.streaming.StreamingOps.TimedDoc
        val wave1 = Seq(
          TimedDoc(11, "keep a\nFOOTER LINE\nkeep b", "web", ts(0)),
          TimedDoc(12, "FOOTER LINE", "web", ts(1)),
          TimedDoc(13, "clean only", "books", ts(2)))
        val wave2 = Seq(TimedDoc(14, "also keep\nFOOTER LINE", "cc", ts(3)))
        s.createDataset(wave1).toDF().coalesce(1).write.mode("append").parquet(s"$tmp/in")
        graft.streaming.StreamingOps.runScrubBoilerplateStream(s, s"$tmp/in", hashes, s"$tmp/out")
        s.createDataset(wave2).toDF().coalesce(1).write.mode("append").parquet(s"$tmp/in")
        graft.streaming.StreamingOps.runScrubBoilerplateStream(s, s"$tmp/in", hashes, s"$tmp/out")
        s.read.parquet(s"$tmp/out/scrubbed").select(col("doc_id"), col("clean_text"))
      }),
      // streaming ingest text repair: mojibake reversal + NFC composition
      // as stateless native-codegen rewrites in a checkpointed plan,
      // across two AvailableNow runs (encoding repair happens BEFORE any
      // downstream state hashes the broken form)
      "x_stream_repair" -> ((s: SparkSession, _: String) => withShufflePartitions(s, 4) {
        import s.implicits._
        val tmp = java.nio.file.Files.createTempDirectory("graft-srepair").toString
        recycle("graft-srepair")(() => deleteDir(tmp))
        def ts(m: Int) = new java.sql.Timestamp(1767225600000L + m * 60000L)
        import graft.streaming.StreamingOps.TimedDoc
        val wave1 = Seq(
          TimedDoc(21, "Caf\u00c3\u00a9", "web", ts(0)),     // mojibake
          TimedDoc(22, "cafe\u0301", "web", ts(1)),          // decomposed
          TimedDoc(23, "plain", "books", ts(2)))
        val wave2 = Seq(TimedDoc(24, "don\u00e2\u20ac\u2122t", "cc", ts(3)))
        s.createDataset(wave1).toDF().coalesce(1).write.mode("append").parquet(s"$tmp/in")
        graft.streaming.StreamingOps.runRepairTextStream(s, s"$tmp/in", s"$tmp/out")
        s.createDataset(wave2).toDF().coalesce(1).write.mode("append").parquet(s"$tmp/in")
        graft.streaming.StreamingOps.runRepairTextStream(s, s"$tmp/in", s"$tmp/out")
        s.read.parquet(s"$tmp/out/repaired").select(col("doc_id"), col("clean_text"))
      }),
      // streaming ingest decontamination: the constant-folded bloom
      // literal + exact-hash verify as a stateless filter inside a
      // checkpointed streaming plan, across two AvailableNow runs
      "x_stream_decontaminate" -> ((s: SparkSession, _: String) => withShufflePartitions(s, 4) {
        import s.implicits._
        val tmp = java.nio.file.Files.createTempDirectory("graft-sdecon").toString
        recycle("graft-sdecon")(() => deleteDir(tmp))
        val evalDocs = s.createDataset(decontamEvalTexts.zipWithIndex.map {
          case (t, i) => (9000L + i, t)
        }).toDF("doc_id", "text")
        s.createDataset(decontamWave1).toDF().coalesce(1).write.mode("append").parquet(s"$tmp/in")
        graft.streaming.StreamingOps.runDecontaminateStream(s, s"$tmp/in", evalDocs, s"$tmp/out")
        s.createDataset(decontamWave2).toDF().coalesce(1).write.mode("append").parquet(s"$tmp/in")
        graft.streaming.StreamingOps.runDecontaminateStream(s, s"$tmp/in", evalDocs, s"$tmp/out")
        s.read.parquet(s"$tmp/out/clean").select(col("doc_id"), col("text"))
      }),
      // Structured-Streaming surface: file-source micro-batches through the
      // same operators, AvailableNow trigger, checkpointed sink
      "x_stream_extract" -> ((s: SparkSession, _: String) => withShufflePartitions(s, 4) {
        implicit val sp: SparkSession = s
        import sp.implicits._
        val fs = fx(streamFixtures: _*)
        val tmp = java.nio.file.Files.createTempDirectory("graft-stream").toString
        recycle("graft-stream")(() => deleteDir(tmp))
        val docs = sp.createDataset(fs.map(f =>
          Model.DocRow(f.name, Seq(Model.InSpan("pdf", "", f.name, 0))))).toDF()
        docs.coalesce(1).write.parquet(s"$tmp/docs")
        val media = sp.createDataset(fs.map(f =>
          Model.MediaRow(f.name, f.bytes))).toDF()
        graft.streaming.StreamingExtract.start(sp, s"$tmp/docs", media, s"$tmp/out", docs.schema)
          .awaitTermination()
        sp.read.parquet(s"$tmp/out/spans_out")
          .select(col("doc_id"), col("order").as("ord"), col("kind"), col("text"), col("media_ref"))
      }),
      // continuous crawl-archive ingestion: two waves of WARC files through
      // the checkpointed stream — wave 2 only processes the NEW archives
      "x_stream_warc" -> ((s: SparkSession, _: String) => withShufflePartitions(s, 4) {
        implicit val sp: SparkSession = s
        import sp.implicits._
        val tmp = java.nio.file.Files.createTempDirectory("graft-swarc").toString
        recycle("graft-swarc")(() => deleteDir(tmp))
        def wave(files: Seq[(String, Array[Byte])]): Unit = {
          val df = sp.createDataset(files).toDF("warc_ref", "bytes")
          df.coalesce(1).write.mode("append").parquet(s"$tmp/in")
          graft.streaming.StreamingExtract
            .startWarc(sp, s"$tmp/in", s"$tmp/out", df.schema)
            .awaitTermination()
        }
        wave(Seq(("w1_plain", WarcBuilder.plain)))
        wave(Seq(("w2_gzip", WarcBuilder.gzipped), ("w3_bad", WarcBuilder.malformed)))
        sp.read.parquet(s"$tmp/out/spans_out")
          .select(col("doc_id"), col("ord"), col("kind"), col("text"), col("media_ref"))
      }),
      // Iceberg VERSION AS OF over the emulated commit protocol: after an
      // incremental second run, reading AS OF run1 returns exactly the
      // table the moment run1 committed; AS OF run2 the full table
      "x_time_travel" -> ((s: SparkSession, _: String) => {
        implicit val sp: SparkSession = s
        import sp.implicits._
        val fs2 = fx(resumeFixtures: _*)
        val fs1 = fs2.dropRight(1)
        def docsDf(fs: Seq[PdfBuilder.Fixture]) = sp.createDataset(fs.map(f =>
          Model.DocRow(f.name, Seq(Model.InSpan("pdf", "", f.name, 0))))).toDF()
        val media = sp.createDataset(fs2.map(f =>
          Model.MediaRow(f.name, f.bytes))).toDF()
        val tmp = java.nio.file.Files.createTempDirectory("graft-travel").toString
        recycle("graft-travel")(() => deleteDir(tmp))
        // fixture-scale runs: 4 partitions (the heavy-branch salt spread
        // and lineage agg width; outputs are partition-count invariant —
        // production runs size this to the cluster via numPartitions)
        ExtractJob.run(docsDf(fs1), media, tmp, "run1", numPartitions = 4)
        ExtractJob.run(docsDf(fs2), media, tmp, "run2", numPartitions = 4)
        def view(r: String) = ExtractJob.readAsOf(tmp, r)
          .select(lit(r).as("as_of"), col("doc_id"), col("order").as("ord"),
            col("kind"), col("text"), col("media_ref"))
        view("run1").unionByName(view("run2"))
      }),
      // resume/crash-safety under the hard gate: run-1 commits a subset,
      // run-2 sees the full doc set. The committed union must hold exactly
      // one span row per doc (no dupes, no gaps), and per-run metrics rows
      // prove run-2 extracted ONLY the new doc (resume skipped committed
      // work instead of recomputing it).
      "x_resume" -> ((s: SparkSession, _: String) => {
        implicit val sp: SparkSession = s
        import sp.implicits._
        val fs2 = fx(resumeFixtures: _*)
        val fs1 = fs2.dropRight(1)
        def docsDf(fs: Seq[PdfBuilder.Fixture]) = sp.createDataset(fs.map(f =>
          Model.DocRow(f.name, Seq(Model.InSpan("pdf", "", f.name, 0))))).toDF()
        val media = sp.createDataset(fs2.map(f =>
          Model.MediaRow(f.name, f.bytes))).toDF()
        val tmp = java.nio.file.Files.createTempDirectory("graft-resume").toString
        recycle("graft-resume")(() => deleteDir(tmp))
        // fixture-scale runs: 4 partitions (see x_time_travel note)
        ExtractJob.run(docsDf(fs1), media, tmp, "run1", numPartitions = 4)
        val committed = ExtractJob.run(docsDf(fs2), media, tmp, "run2", numPartitions = 4)
        val spans = committed.select(col("doc_id"), col("order").as("ord"),
          col("kind"), col("text"), col("media_ref"))
        val metrics = sp.read.parquet(s"$tmp/metrics/run=run1", s"$tmp/metrics/run=run2")
          .select(concat(lit("_metrics_"), col("run_id")).as("doc_id"),
            col("media_total").cast("int").as("ord"), lit("metrics").as("kind"),
            lit("").as("text"), lit("").as("media_ref"))
        spans.unionByName(metrics)
      }),
      // one interleaved document with text + pdf + html + garbage spans:
      // proves the kernel's per-payload content dispatch and span ordering
      "x_html_mixed" -> ((s: SparkSession, _: String) => {
        implicit val sp: SparkSession = s
        import sp.implicits._
        val f01 = fx("f01_minimal_flate").head
        val h01 = hx("h01_article").head
        val g = PdfBuilder.f16Garbage
        val docs = sp.createDataset(Seq(Model.DocRow("mix01", Seq(
          Model.InSpan("text", "intro", "", 0),
          Model.InSpan("pdf", "", f01.name, 1),
          Model.InSpan("html", "", h01.name, 2),
          Model.InSpan("pdf", "", g.name, 3),
          Model.InSpan("text", "outro", "", 4))))).toDF()
        val media = sp.createDataset(Seq(f01, h01, g).map(f =>
          Model.MediaRow(f.name, f.bytes))).toDF()
        ExtractJob.extract(docs, media, 4)
          .select(col("doc_id"), col("order").as("ord"), col("kind"), col("text"), col("media_ref"))
      }),
      // in-content image references from the HTML kernel (media spans a
      // downstream multimodal stage would fetch), drop contexts excluded
      "x_html_images" -> ((s: SparkSession, _: String) => {
        implicit val sp: SparkSession = s
        import sp.implicits._
        val fs = hx("h01_article", "h05_images")
        sp.createDataset(fs.map(f => (f.name, f.bytes))).toDF("media_ref", "bytes")
          .select(col("media_ref"), posexplode(graft.functions.PdfFunctions.htmlImageRefs(col("bytes"))).as(Seq("pos", "img_src")))
      }),
      // in-content outlinks from the HTML kernel (crawl-frontier feed):
      // nav/footer/figure links are drop-context boilerplate and excluded
      "x_html_links" -> ((s: SparkSession, _: String) => {
        implicit val sp: SparkSession = s
        import sp.implicits._
        val fs = hx("h01_article", "h02_density", "h05_images")
        sp.createDataset(fs.map(f => (f.name, f.bytes))).toDF("media_ref", "bytes")
          .select(col("media_ref"), posexplode(graft.functions.PdfFunctions.htmlLinkRefs(col("bytes"))).as(Seq("pos", "href")))
      }),
      // labeled outlinks: (href, visible anchor text) — anchor text is the
      // classic relevance signal for the TARGET page (it feeds the
      // anchor-text index, not the source doc's own features)
      "x_html_anchors" -> ((s: SparkSession, _: String) => {
        implicit val sp: SparkSession = s
        import sp.implicits._
        val fs = hx("h01_article", "h02_density", "h05_images")
        sp.createDataset(fs.map(f => (f.name, f.bytes))).toDF("media_ref", "bytes")
          .select(col("media_ref"), posexplode(graft.functions.PdfFunctions.htmlAnchors(col("bytes"))).as(Seq("pos", "a")))
          .select(col("media_ref"), col("pos"), col("a._1").as("href"), col("a._2").as("anchor_text"))
      }),
      // structured data from the DOM: in-content table cells as
      // (table, row, col, text) — implied </td>/</tr>, entity decode,
      // nested tables flatten into their cell, nav grids excluded
      "x_html_tables" -> ((s: SparkSession, _: String) => {
        implicit val sp: SparkSession = s
        import sp.implicits._
        val t1 = "<html><head><title>T</title></head><body>" +
          "<nav><table><tr><td>menu</td></tr></table></nav>" +
          "<p>intro text here</p>" +
          "<table><thead><tr><th>name</th><th>price &amp; tax</th></tr></thead>" +
          "<tbody><tr><td>widget<td>9.99</tr>" +
          "<tr><td><p>multi</p><p>block</p></td><td>3</td></tr></tbody></table>" +
          "<table><tr><td>second</td><td></td></tr></table></body></html>"
        val t2 = "<table><tr><td>a<table><tr><td>inner</td></tr></table>b</td></tr>" +
          "</table><table><td>x</td></table>"
        sp.createDataset(Seq(("t1", t1.getBytes("UTF-8")), ("t2", t2.getBytes("UTF-8"))))
          .toDF("media_ref", "bytes")
          .select(col("media_ref"),
            explode(graft.functions.PdfFunctions.htmlTables(col("bytes"))).as("c"))
          .select(col("media_ref"), col("c._1").as("tbl"), col("c._2").as("row"),
            col("c._3").as("col"), col("c._4").as("cell"))
      }),
      // crawl-frontier seeding: sitemap <loc> discovery (urlset +
      // sitemapindex), XML entities unescaped, document order kept
      "x_sitemap" -> ((s: SparkSession, _: String) => {
        implicit val sp: SparkSession = s
        import sp.implicits._
        val sm = sp.createDataset(Seq(
          ("example.com",
            "<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n" +
              "<urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">\n" +
              "<url><loc>https://example.com/</loc><lastmod>2026-01-01</lastmod></url>\n" +
              "<url><loc> https://example.com/a?x=1&amp;y=2 </loc></url>\n" +
              "<url><loc>https://example.com/b</loc></url>\n</urlset>"),
          ("example.org",
            "<?xml version=\"1.0\"?><sitemapindex>" +
              "<sitemap><loc>https://example.org/sitemap1.xml</loc></sitemap>" +
              "<sitemap><loc>https://example.org/sitemap2.xml</loc></sitemap></sitemapindex>")))
          .toDF("host", "content")
        WebOps.parseSitemaps(sm, col("host"), col("content"))
      }),
      // Gopher quality rules (Rae et al. 2021): one boolean per published
      // rule, decided in pure integer comparisons — bitwise cross-engine
      "q_gopher_quality" -> ((s: SparkSession, d: String) =>
        TrainingOps.gopherQualityFlags(t(s, d, "documents"))),
      // context windows: 32-token chunks every 16 tokens (50% overlap),
      // one generator pass, fan-out bounded per document
      "q_sliding_chunks" -> ((s: SparkSession, d: String) =>
        TrainingOps.slidingChunks(t(s, d, "documents"), 32, 16)),
      // perceptual image dedup: dHash + the shared 4-band pigeonhole join —
      // a2 alters only a NEVER-SAMPLED pixel (15,15): same hash, distance 0;
      // the reversed gradient flips all 64 comparisons and is excluded
      "x_media_dhash" -> ((s: SparkSession, _: String) => {
        import s.implicits._
        def png(f: Int => Int): Array[Byte] = {
          val img = new java.awt.image.BufferedImage(16, 16,
            java.awt.image.BufferedImage.TYPE_INT_RGB)
          for (y <- 0 until 16; x <- 0 until 16) {
            val g = f(x) & 0xff
            img.setRGB(x, y, (g << 16) | (g << 8) | g)
          }
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", bos)
          bos.toByteArray
        }
        val a = png(x => x * 16)
        val a2 = {
          val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(a))
          img.setRGB(15, 15, 0) // (15,15) is outside every 9x8 sample point
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", bos)
          bos.toByteArray
        }
        val b = png(x => (15 - x) * 16)
        val media = s.createDataset(Seq(
          ("a", a), ("a2", a2), ("b", b),
          ("bad", "not an image".getBytes("UTF-8"))))
          .toDF("media_ref", "bytes")
        MediaOps.dHashPairs(media, maxHamming = 3)
      }),
      // perceptual audio dedup: w2 is w1 at DOUBLE volume (byte dedup
      // can't pair them; the energy-ordering hash is volume-invariant),
      // w3 reverses the energy ramp and flips all 64 bits
      "x_media_ahash" -> ((s: SparkSession, _: String) => {
        import s.implicits._
        def wav(amp: Int => Int): Array[Byte] = { // 65 segs x 16 frames, 16-bit LE mono
          val n = 65 * 16
          val data = new Array[Byte](n * 2)
          for (i <- 0 until n) {
            val v = amp(math.min(64, i * 65 / n))
            data(2 * i) = (v & 0xff).toByte
            data(2 * i + 1) = ((v >> 8) & 0xff).toByte
          }
          val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
          val ais = new javax.sound.sampled.AudioInputStream(
            new java.io.ByteArrayInputStream(data), fmt, n.toLong)
          val bos = new java.io.ByteArrayOutputStream()
          javax.sound.sampled.AudioSystem.write(ais,
            javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
          bos.toByteArray
        }
        val media = s.createDataset(Seq(
          ("w1", wav(seg => (seg + 1) * 250)),
          ("w2", wav(seg => (seg + 1) * 500)),
          ("w3", wav(seg => (65 - seg) * 250)),
          ("bad", "not audio".getBytes("UTF-8"))))
          .toDF("media_ref", "bytes")
        MediaOps.wavHashPairs(media, maxHamming = 3)
      }),
      // curation decision table: per-source doc/pass/token rollup — flags
      // inline (pass-through overload), one tiny-key shuffle
      "q_source_curation" -> ((s: SparkSession, d: String) =>
        TrainingOps.sourceCuration(t(s, d, "documents"))),
      // multimodal packing: interleaved spans → ordered training text with
      // per-kind media sentinels + an honest token budget (64/media span)
      "x_interleaved_pack" -> ((s: SparkSession, _: String) => {
        import s.implicits._
        val spans = Seq(
          (1L, 0, "text", "hello world", ""),
          (1L, 1, "image", "", "img1"),
          (1L, 2, "text", "tail bit", ""),
          (2L, 0, "audio", "", "au1"),
          (2L, 1, "text", "solo", ""),
          (3L, 0, "text", "only text here", ""))
          .toDF("doc_id", "order", "kind", "text", "media_ref")
        TrainingOps.packInterleaved(spans, mediaTokens = 64)
      }),
      // deterministic training mix: exact-rational per-source keep
      // fractions as a plan-literal CASE — one codegen pass, no shuffle
      "q_mix_sources" -> ((s: SparkSession, d: String) =>
        TrainingOps.mixSources(t(s, d, "documents"),
            Map("src0" -> ((1L, 1L)), "src1" -> ((1L, 2L)),
              "src2" -> ((1L, 4L)), "src3" -> ((3L, 4L))))
          .select(col("doc_id"), col("source"))),
      // head-level document metadata: title + meta description (entity-
      // decoded, charset-aware) — the per-page signals a training pipeline
      // stores alongside main content
      "x_html_meta" -> ((s: SparkSession, _: String) => {
        implicit val sp: SparkSession = s
        import sp.implicits._
        val fs = hx("h01_article", "h05_images", "h06_latin1")
        sp.createDataset(fs.map(f => (f.name, f.bytes))).toDF("media_ref", "bytes")
          .select(col("media_ref"),
            graft.functions.PdfFunctions.htmlDocMeta(col("bytes")).as("m"))
          .select(col("media_ref"), col("m._1").as("title"), col("m._2").as("description"))
      }),
      // WARC crawl-archive ingestion: container explode (one flatMap pass,
      // streaming per-record parse) feeding the SAME content-sniffed
      // extraction kernel. Plain and per-record-gzip archives must agree;
      // a malformed archive degrades to one error span (§2.9), no aborts.
      "x_warc_extract" -> ((s: SparkSession, _: String) => {
        implicit val sp: SparkSession = s
        import sp.implicits._
        val warcs = sp.createDataset(Seq(
            ("w1_plain", WarcBuilder.plain),
            ("w2_gzip", WarcBuilder.gzipped),
            ("w3_bad", WarcBuilder.malformed)))
          .toDF("warc_ref", "bytes")
        operators.WarcOps.extractWarc(warcs, 8)
      }))

    (extraction ++ relational ++ training).toMap
  }

  /** Hand-derived (title, description) ground truth for x_html_meta. */
  private def htmlMetaOracle: String = {
    val rows = Seq(
      ("h01_article", "Site — Title", ""),
      ("h05_images", "", ""),
      ("h06_latin1", "Café du Coin", "Le petit café — menu & horaires"))
      .map { case (r, t, d) => s"(${sqlStr(r)}, ${sqlStr(t)}, ${sqlStr(d)})" }
    s"SELECT * FROM (VALUES ${rows.mkString(", ")}) AS t(media_ref, title, description)"
  }

  /** robots.txt fixture covering the group semantics: an agent-specific
    * group (not ours), a multi-agent star group, an allow-all empty
    * Disallow, a comment line, uppercase directives, and a root block. */
  private def robotsFixture(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq(
      ("example.com",
        "# site robots\nSitemap: https://example.com/sitemap.xml\n" +
          "User-agent: googlebot\nDisallow: /private\n\n" +
          "User-agent: *\nUser-agent: testbot\nDisallow: /admin\nDISALLOW: /tmp/\nDisallow:\n\n" +
          "User-agent: otherbot\nDisallow: /"),
      ("blocked.org",
        "Sitemap: https://cdn.blocked.org/sm1.xml # primary\n" +
          "User-agent: *\nDisallow: /\n" +
          "sitemap: https://cdn.blocked.org/sm2.xml"))
      .toDF("host", "content")
  }

  /** Frontier URLs for x_robots_filter; the comments are the ground truth
    * the VALUES oracle encodes. */
  private val robotsUrls: Seq[(Long, String)] = Seq(
    (1L, "https://example.com/admin/panel"), // dropped: star-group /admin
    (2L, "https://example.com/private/x"),   // kept: /private is googlebot-only
    (3L, "https://example.com/tmp/file"),    // dropped: star-group /tmp/
    (4L, "https://example.com/tmp"),         // kept: '/tmp/' does not prefix-match '/tmp'
    (5L, "https://example.com/index.html"),  // kept
    (6L, "https://blocked.org/anything"),    // dropped: root disallow
    (7L, "https://other.net/admin"))         // kept: no rules for this host

  private def robotsOracle: String = {
    val kept = Seq(
      (2L, "example.com", "https://example.com/private/x"),
      (4L, "example.com", "https://example.com/tmp"),
      (5L, "example.com", "https://example.com/index.html"),
      (7L, "other.net", "https://other.net/admin"))
    val rows = kept.map { case (i, h, u) => s"($i, ${sqlStr(h)}, ${sqlStr(u)})" }
    "SELECT CAST(doc_id AS BIGINT) AS doc_id, host, url_norm FROM " +
      s"(VALUES ${rows.mkString(", ")}) AS t(doc_id, host, url_norm)"
  }

  /** By-construction oracle for the WARC leg: both storage variants yield
    * the same three documents; the malformed file is one error span. */
  private def warcOracle: String = {
    val rows = Seq("w1_plain", "w2_gzip").flatMap { ref =>
      WarcBuilder.docs.zipWithIndex.map { case (d, i) =>
        s"(${sqlStr(d.uri)}, 0, ${sqlStr(d.kind)}, ${sqlStr(d.expected)}, ${sqlStr(s"$ref#$i")})"
      }
    } :+ "('w3_bad', 0, 'error', '', 'w3_bad#bad')"
    s"SELECT * FROM (VALUES ${rows.mkString(", ")}) AS t(doc_id, ord, kind, text, media_ref)"
  }

  /** run-1 commits all but the last; run-2 adds the last. */
  private val resumeFixtures = Seq("f01_minimal_flate", "f03_filters", "f09_rotate")

  /** Oracle for x_time_travel, derived from the fixture expectations:
    * AS OF run1 sees only run1's docs; AS OF run2 sees all. */
  private def timeTravelOracle: String = {
    val fs2 = fx(resumeFixtures: _*)
    val fs1 = fs2.dropRight(1)
    def row(asOf: String, f: PdfBuilder.Fixture) =
      s"('$asOf', ${sqlStr(f.name)}, 0, 'pdf_text', ${sqlStr(f.expected)}, ${sqlStr(f.name)})"
    val rows = fs1.map(row("run1", _)) ++ fs2.map(row("run2", _))
    s"SELECT * FROM (VALUES ${rows.mkString(", ")}) AS t(as_of, doc_id, ord, kind, text, media_ref)"
  }

  /** By-construction oracle for x_resume: one span row per doc plus the
    * per-run metrics rows (run1 extracted 2 media, run2 only the 1 new). */
  private def resumeOracle: String = {
    val fs2 = fx(resumeFixtures: _*)
    val rows = fs2.map(f =>
      s"(${sqlStr(f.name)}, 0, 'pdf_text', ${sqlStr(f.expected)}, ${sqlStr(f.name)})") ++ Seq(
      s"('_metrics_run1', ${fs2.size - 1}, 'metrics', '', '')",
      "('_metrics_run2', 1, 'metrics', '', '')")
    s"SELECT * FROM (VALUES ${rows.mkString(", ")}) AS t(doc_id, ord, kind, text, media_ref)"
  }

  def oracleSql: Map[String, String] = {
    val extraction = extractionSets.map { case (name, fixtures) =>
      name -> extractionOracle(fixtures)
    }
    val nTokens = "CAST(LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1 AS BIGINT)"
    val padded = "' ' || text || ' '"
    def hasWord(w: String) = s"POSITION(' $w ' IN $padded) > 0"
    val sql = Seq(
      "q_agg_pricing" ->
        ("SELECT l_returnflag, l_linestatus, COUNT(*) AS n, " +
          // CAST the SUMs back to BIGINT: DuckDB SUM(BIGINT) yields HUGEINT
          // (int128) and the driver's value hash is type-sensitive.
          "CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty, " +
          "CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_cents " +
          "FROM lineitem GROUP BY l_returnflag, l_linestatus"),
      "q_join_nation_revenue" ->
        ("SELECT n_name, COUNT(*) AS n_orders, " +
          "CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents " +
          "FROM orders JOIN customer ON o_custkey = c_custkey " +
          "JOIN nation ON c_nationkey = n_nationkey GROUP BY n_name"),
      "q_window_top_order" ->
        ("SELECT o_custkey, o_orderkey FROM (SELECT o_custkey, o_orderkey, " +
          "ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn " +
          "FROM orders) t WHERE rn = 1"),
      "q_topk_price" ->
        ("SELECT l_orderkey, l_linenumber, CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS price_cents " +
          "FROM lineitem ORDER BY price_cents DESC, l_orderkey, l_linenumber LIMIT 100"),
      "q_semi_active_customers" ->
        "SELECT c_custkey, c_name FROM customer WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)",
      "q_anti_no_big_order" ->
        ("SELECT c_custkey, c_name FROM customer WHERE NOT EXISTS " +
          "(SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 400000)"),
      "q_events_by_type" ->
        ("SELECT event_type, COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users, " +
          "CAST(SUM(CAST(ROUND(value * 1000) AS BIGINT)) AS BIGINT) AS sum_value_milli " +
          "FROM events GROUP BY event_type"),
      "q_rollup_pricing" ->
        ("SELECT COALESCE(l_returnflag, 'ALL') AS rflag, COALESCE(l_linestatus, 'ALL') AS lstatus, " +
          "COUNT(*) AS n, CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty " +
          "FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)"),
      "q_pivot_events" ->
        ("SELECT user_id, " +
          Seq("click", "error", "purchase", "signup", "view").map(ty =>
            s"CAST(SUM(CASE WHEN event_type = '$ty' THEN 1 ELSE 0 END) AS BIGINT) AS n_$ty")
            .mkString(", ") +
          " FROM events GROUP BY user_id"),
      "q_dedup_vs_prior" ->
        ("SELECT doc_id FROM documents d WHERE NOT EXISTS (" +
          "SELECT 1 FROM documents p WHERE p.text = d.text " +
          "AND substr(md5(p.doc_id::VARCHAR || ':s42'), 1, 8) < '40000000')"),
      "q_sessionize" ->
        ("""WITH e AS (SELECT user_id, event_id, ts, epoch_us(ts) AS tus FROM events),
           |g AS (SELECT *, CASE WHEN lag(tus) OVER w IS NULL OR tus - lag(tus) OVER w > 1800000000 THEN 1 ELSE 0 END AS ns
           |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
           |s AS (SELECT *, SUM(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_idx FROM g)
           |SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx, COUNT(*) AS n_events,
           |  CAST(MIN(tus) AS BIGINT) AS start_us, CAST(MAX(tus) - MIN(tus) AS BIGINT) AS dur_us
           |FROM s GROUP BY user_id, session_idx""".stripMargin),
      "q_dedup_exact" ->
        "SELECT text, MIN(doc_id) AS keep_id, COUNT(*) AS dup_count FROM documents GROUP BY text",
      "q_token_count" ->
        s"SELECT doc_id, $nTokens AS n_tokens FROM documents",
      "q_token_count_bpe" ->
        ("SELECT doc_id, CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) " +
          "AS n_bpe_tokens FROM documents"),
      "q_quality" ->
        (s"SELECT doc_id, CAST(LENGTH(text) AS BIGINT) AS n_chars, $nTokens AS n_tokens, " +
          s"CASE WHEN LENGTH(text) < 50 THEN 'short' WHEN $nTokens > 20 THEN 'long' ELSE 'ok' END AS quality_bucket " +
          "FROM documents"),
      "q_langid" ->
        (s"SELECT doc_id, CASE WHEN ${hasWord("the")} OR ${hasWord("and")} OR ${hasWord("of")} THEN 'en' " +
          s"WHEN ${hasWord("der")} OR ${hasWord("und")} OR ${hasWord("die")} THEN 'de' " +
          s"WHEN ${hasWord("el")} OR ${hasWord("la")} OR ${hasWord("los")} THEN 'es' " +
          "ELSE 'unk' END AS lang_pred FROM documents"),
      // groups by xxhash64 internally, by text here — identical absent
      // 64-bit collisions (none on this corpus)
      "q_dedup_exact_hash" ->
        "SELECT MIN(doc_id) AS keep_id, COUNT(*) AS dup_count FROM documents GROUP BY text",
      "q_fingerprint" -> fingerprintOracle,
      "q_simhash" -> simhashOracle,
      "q_simhash_dup_pairs" -> simhashDupPairsOracle,
      // ground-truth pair sets: the seeded corpus has true jaccard <0.1 or
      // >0.9 only, so LSH-candidates∩(est>=0.5) == all-pairs j>=0.5
      "q_minhash_lsh_pairs" ->
        (shingleCte + s"SELECT a.doc_id AS doc_a, b.doc_id AS doc_b FROM s a JOIN s b ON a.doc_id < b.doc_id WHERE $jaccardExpr >= 0.5"),
      // identical signatures through the persisted table → identical pairs
      "q_minhash_lsh_persisted" ->
        (shingleCte + s"SELECT a.doc_id AS doc_a, b.doc_id AS doc_b FROM s a JOIN s b ON a.doc_id < b.doc_id WHERE $jaccardExpr >= 0.5"),
      "q_ngram_jaccard_pairs" ->
        (shingleCte + s"SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, $jaccardExpr AS jaccard FROM s a JOIN s b ON a.doc_id < b.doc_id WHERE $jaccardExpr >= 0.5"),
      // transitive closure over the ground-truth pair graph (recursive CTE)
      "q_dup_clusters" ->
        (s"""WITH RECURSIVE ${shingleCte.stripPrefix("WITH ").stripSuffix("\n")},
            |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b FROM s a JOIN s b ON a.doc_id < b.doc_id WHERE $jaccardExpr >= 0.5),
            |edges AS (SELECT doc_a AS a, doc_b AS b FROM p UNION SELECT doc_b, doc_a FROM p),
            |reach AS (SELECT a AS id, a AS r FROM edges UNION SELECT reach.id, edges.b FROM reach JOIN edges ON reach.r = edges.a)
            |SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id""".stripMargin),
      "q_sample" ->
        "SELECT doc_id FROM documents WHERE substr(md5(doc_id::VARCHAR || ':s42'), 1, 8) < '40000000'",
      // same transitive closure as q_dup_clusters, then the per-cluster
      // argmax (longest text, tie to min doc_id) via ROW_NUMBER
      "q_cluster_reps" ->
        (s"""WITH RECURSIVE ${shingleCte.stripPrefix("WITH ").stripSuffix("\n")},
            |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b FROM s a JOIN s b ON a.doc_id < b.doc_id WHERE $jaccardExpr >= 0.5),
            |edges AS (SELECT doc_a AS a, doc_b AS b FROM p UNION SELECT doc_b, doc_a FROM p),
            |reach AS (SELECT a AS id, a AS r FROM edges UNION SELECT reach.id, edges.b FROM reach JOIN edges ON reach.r = edges.a),
            |clusters AS (SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id),
            |j AS (SELECT c.cluster_id, c.doc_id, LENGTH(d.text)::BIGINT AS n_chars FROM clusters c JOIN documents d USING (doc_id))
            |SELECT cluster_id, doc_id AS rep_id, n_chars FROM
            |  (SELECT *, ROW_NUMBER() OVER (PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id) AS rn FROM j) t
            |WHERE rn = 1""".stripMargin),
      "q_stratified_sample" ->
        ("SELECT doc_id, lang FROM documents WHERE substr(md5(doc_id::VARCHAR || ':s42'), 1, 8) < " +
          "CASE WHEN lang = 'en' THEN '80000000' WHEN lang = 'de' THEN '40000000' ELSE '20000000' END"),
      "q_word_diversity" ->
        ("SELECT doc_id, len(list_distinct(string_split(lower(text), ' ')))::BIGINT AS n_distinct, " +
          "len(string_split(lower(text), ' '))::BIGINT AS n_words, " +
          "len(list_distinct(string_split(lower(text), ' ')))::DOUBLE / len(string_split(lower(text), ' ')) AS diversity " +
          "FROM documents"),
      "q_scrub_pii" ->
        ("SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(text, " +
          "'https?://[A-Za-z0-9./_%+#?=&-]+', '<URL>', 'g'), " +
          "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+', '<EMAIL>', 'g'), " +
          "'[0-9A-Fa-f]{1,4}(:[0-9A-Fa-f]{1,4}){3,7}', '<IP>', 'g'), " +
          "'[0-9]{1,3}(\\.[0-9]{1,3}){3}', '<IP>', 'g'), " +
          "'(\\+[0-9]{1,3}[-. ])?\\(?[0-9]{3}\\)?[-. ][0-9]{3}[-. ][0-9]{4}', '<PHONE>', 'g') AS scrubbed " +
          "FROM (SELECT doc_id, text FROM documents UNION ALL SELECT * FROM (VALUES " +
          "(900001, 'mail alice.smith+x@sub.example.co.uk or see https://ex.com/a_b?x=1&y=2 now'), " +
          "(900002, 'no pii in this row'), " +
          "(900003, 'call +1-555-123-4567 or (555) 867-5309 now'), " +
          "(900004, 'hosts 10.0.0.1 and fe80:0:0:0:0:0:0:1 up at 12:30:45')) v(doc_id, text)) t"),
      "q_token_chunks" ->
        ("SELECT doc_id, source, nt AS n_tokens, " +
          "CAST(FLOOR(COALESCE(SUM(nt) OVER (PARTITION BY source ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 256) AS BIGINT) AS chunk_id " +
          "FROM (SELECT doc_id, source, CAST(LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1 AS BIGINT) AS nt FROM documents) t"),
      // line df via COUNT(DISTINCT doc_id); Spark joins on xxhash64(line),
      // the oracle on line strings — identical absent collisions
      "q_boilerplate_lines" ->
        ("""WITH d AS (SELECT doc_id, text FROM documents UNION ALL SELECT * FROM (VALUES
           |  (910001, 'unique first line' || chr(10) || 'SUBSCRIBE NOW' || chr(10) || 'unique second line'),
           |  (910002, 'another start' || chr(10) || 'SUBSCRIBE NOW' || chr(10) || 'another end'),
           |  (910003, 'SUBSCRIBE NOW'),
           |  (910004, 'totally unique document')) v(doc_id, text)),
           |g AS (SELECT doc_id, unnest(range(1, len(l) + 1)) AS idx, unnest(l) AS line
           |  FROM (SELECT doc_id, string_split(text, chr(10)) AS l FROM d) t),
           |bp AS (SELECT line FROM (SELECT line, COUNT(DISTINCT doc_id) AS df FROM g GROUP BY line) f WHERE df >= 2),
           |kept AS (SELECT doc_id, idx, line FROM g WHERE line NOT IN (SELECT line FROM bp)),
           |r AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY idx) AS clean_text FROM kept GROUP BY doc_id)
           |SELECT d.doc_id, COALESCE(r.clean_text, '') AS clean_text FROM d LEFT JOIN r USING (doc_id)""".stripMargin),
      "q_decontaminate" -> decontaminateOracle,
      // the bloom path is an exact-verified pre-filter: same answer
      "q_decontaminate_bloom" -> decontaminateOracle,
      "q_repetition" ->
        ("""WITH t AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS toks FROM documents),
           |g AS (SELECT doc_id, unnest(CASE WHEN len(toks) < 2 THEN [array_to_string(toks, ' ')]
           |  ELSE list_transform(range(1, len(toks)), i -> array_to_string(list_slice(toks, i, i + 1), ' ')) END) AS gr FROM t),
           |c AS (SELECT doc_id, gr, count(*) AS cnt FROM g GROUP BY doc_id, gr)
           |SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_bigrams, CAST(MAX(cnt) AS BIGINT) AS top_bigram_count,
           |  MAX(cnt)::DOUBLE / SUM(cnt) AS top_bigram_fraction,
           |  COUNT(*)::DOUBLE / SUM(cnt) AS distinct_bigram_ratio
           |FROM c GROUP BY doc_id""".stripMargin),
      // true-jaccard ground truth: an incoming doc survives iff no prior-
      // side doc reaches the threshold (est==true on this corpus; same
      // separation argument as q_minhash_lsh_pairs)
      "q_dedup_near_vs_prior" ->
        (shingleCte + s"""SELECT doc_id FROM documents WHERE doc_id >= 250 AND doc_id NOT IN (
           |  SELECT a.doc_id FROM s a JOIN s b ON a.doc_id >= 250 AND b.doc_id < 250
           |  WHERE $jaccardExpr >= 0.5)""".stripMargin),
      "q_dup_ngram_fraction" ->
        ("""WITH docs AS (SELECT doc_id, text FROM documents UNION ALL SELECT * FROM (VALUES
           |  (CAST(920001 AS BIGINT), 'alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi'),
           |  (CAST(920002 AS BIGINT), 'alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu omega')) v(doc_id, text)),
           |t AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS toks FROM docs),
           |g AS (SELECT doc_id, unnest(list_distinct(CASE WHEN len(toks) < 13 THEN [array_to_string(toks, ' ')]
           |  ELSE list_transform(range(1, len(toks) - 11), i -> array_to_string(list_slice(toks, i, i + 12), ' ')) END)) AS gr FROM t),
           |d AS (SELECT doc_id, COUNT(*) OVER (PARTITION BY gr) AS df FROM g)
           |SELECT doc_id, COUNT(*) AS n_grams, COUNT(CASE WHEN df >= 2 THEN 1 END) AS n_dup_grams,
           |  CAST(COUNT(CASE WHEN df >= 2 THEN 1 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS dup_fraction
           |FROM d GROUP BY doc_id""".stripMargin),
      // repair is not SQL-expressible, but its EXPECTED OUTPUT is: the
      // ASCII corpus passes through verbatim and each planted row's
      // repaired form is hand-derived (chr codes = the true code points)
      "q_fix_mojibake" ->
        ("""WITH d AS (SELECT doc_id, text FROM documents UNION ALL SELECT * FROM (VALUES
           |  (CAST(950001 AS BIGINT), 'Caf' || chr(233)),
           |  (CAST(950002 AS BIGINT), 'don' || chr(8217) || 't stop'),
           |  (CAST(950003 AS BIGINT), 'Caf' || chr(233)),
           |  (CAST(950004 AS BIGINT), 'Caf' || chr(233) || ' propre'),
           |  (CAST(950005 AS BIGINT), 'plain ascii')) v(doc_id, text))
           |SELECT doc_id, text FROM d""".stripMargin),
      // same deterministic file order, same integer prefix-sum binning
      "q_compaction_plan" ->
        ("""WITH f AS (SELECT source AS part, 'f' || lpad(CAST(doc_id AS VARCHAR), 6, '0') AS file,
           |  CAST(octet_length(encode(text)) AS BIGINT) AS bytes FROM documents)
           |SELECT part, file, bytes,
           |  CAST(FLOOR(COALESCE(SUM(bytes) OVER (PARTITION BY part ORDER BY file
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 4096) AS BIGINT) AS bin
           |FROM f""".stripMargin),
      // same (score,count) rollup, same descending prefix sum, same
      // integer floor-division shard rule
      "q_curriculum_shards" ->
        ("""WITH s AS (SELECT doc_id, CAST(LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1 AS BIGINT) AS sc FROM documents),
           |c AS (SELECT sc, COUNT(*) AS cnt FROM s GROUP BY sc),
           |m AS (SELECT sc, COALESCE(SUM(cnt) OVER (ORDER BY sc DESC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before,
           |  (SELECT SUM(cnt) FROM c) AS n FROM c),
           |sh AS (SELECT sc, CAST((cum_before * 4) // n AS BIGINT) AS shard FROM m)
           |SELECT s.doc_id, sh.shard FROM s JOIN sh USING (sc)""".stripMargin),
      // DuckDB's nfc_normalize runs the same Unicode canonical-composition
      // algorithm as java.text.Normalizer — whole column hash-compared
      "q_nfc_normalize" ->
        ("""WITH d AS (SELECT doc_id, text FROM documents UNION ALL SELECT * FROM (VALUES
           |  (CAST(940001 AS BIGINT), 'cafe' || chr(769) || ' latte'),
           |  (CAST(940002 AS BIGINT), 'caf' || chr(233)),
           |  (CAST(940003 AS BIGINT), 'ascii only'),
           |  (CAST(940004 AS BIGINT), chr(4352) || chr(4449))) v(doc_id, text))
           |SELECT doc_id, nfc_normalize(text) AS text FROM d""".stripMargin),
      // same gram-cover construction: window frequency on gram STRINGS
      // (Spark uses xxhash64 — identical absent collisions), same running-
      // max coverage rule, same ordered reassembly
      "q_remove_dup_spans" ->
        ("""WITH d AS (SELECT doc_id, text FROM documents UNION ALL SELECT * FROM (VALUES
           |  (CAST(930001 AS BIGINT), 'p1 p2 p3 c01 c02 c03 c04 c05 c06 c07 c08 c09 c10 c11 c12 c13 c14 c15 s1 s2'),
           |  (CAST(930002 AS BIGINT), 'q1 q2 c01 c02 c03 c04 c05 c06 c07 c08 c09 c10 c11 c12 c13 c14 c15 r1 r2 r3'),
           |  (CAST(930003 AS BIGINT), 'w01 w02 w03 w04 w05 w06 w07 w08 w09 w10 w11 w12 w13 mid w01 w02 w03 w04 w05 w06 w07 w08 w09 w10 w11 w12 w13')) v(doc_id, text)),
           |t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM d),
           |g AS (SELECT doc_id, unnest(range(1, len(toks) + 1)) AS pos, unnest(toks) AS w,
           |  unnest(list_transform(range(1, len(toks) + 1), i -> CASE WHEN i <= len(toks) - 12
           |    THEN array_to_string(list_slice(toks, CAST(i AS BIGINT), CAST(i + 12 AS BIGINT)), ' ') END)) AS gr FROM t),
           |f AS (SELECT doc_id, pos, w,
           |  (gr IS NOT NULL AND COUNT(*) OVER (PARTITION BY gr) >= 2) AS dup_start FROM g),
           |c AS (SELECT doc_id, pos, w, MAX(CASE WHEN dup_start THEN pos END) OVER
           |  (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_start FROM f),
           |k AS (SELECT doc_id, pos, w,
           |  (last_start IS NOT NULL AND last_start >= pos - 12) AS covered FROM c)
           |SELECT doc_id,
           |  COALESCE(string_agg(CASE WHEN NOT covered THEN w END, ' ' ORDER BY pos), '') AS clean_text,
           |  COUNT(*) AS n_tokens, COUNT(CASE WHEN covered THEN 1 END) AS n_removed
           |FROM k GROUP BY doc_id""".stripMargin),
      // same gram-cover construction with the eval-set membership test in
      // place of the corpus-frequency window (gram strings vs xxhash64 —
      // identical absent collisions)
      "q_remove_contaminated_spans" ->
        ("""WITH d AS (SELECT doc_id, text FROM documents
           |  UNION ALL SELECT CAST(960001 AS BIGINT), 'intro marker ' || text || ' closing marker'
           |    FROM (SELECT text FROM documents ORDER BY doc_id LIMIT 1) p),
           |ev AS (SELECT DISTINCT gr FROM (
           |  SELECT unnest(CASE WHEN len(toks) < 13 THEN CAST([] AS VARCHAR[])
           |    ELSE list_transform(range(1, len(toks) - 11), i -> array_to_string(list_slice(toks, CAST(i AS BIGINT), CAST(i + 12 AS BIGINT)), ' ')) END) AS gr
           |  FROM (SELECT string_split(text, ' ') AS toks FROM documents WHERE doc_id IN (SELECT doc_id FROM documents ORDER BY doc_id LIMIT 2)) t0) t1),
           |t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM d),
           |g AS (SELECT doc_id, unnest(range(1, len(toks) + 1)) AS pos, unnest(toks) AS w,
           |  unnest(list_transform(range(1, len(toks) + 1), i -> CASE WHEN i <= len(toks) - 12
           |    THEN array_to_string(list_slice(toks, CAST(i AS BIGINT), CAST(i + 12 AS BIGINT)), ' ') END)) AS gr FROM t),
           |f AS (SELECT doc_id, pos, w,
           |  (gr IS NOT NULL AND gr IN (SELECT gr FROM ev)) AS dup_start FROM g),
           |c AS (SELECT doc_id, pos, w, MAX(CASE WHEN dup_start THEN pos END) OVER
           |  (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_start FROM f),
           |k AS (SELECT doc_id, pos, w,
           |  (last_start IS NOT NULL AND last_start >= pos - 12) AS covered FROM c)
           |SELECT doc_id,
           |  COALESCE(string_agg(CASE WHEN NOT covered THEN w END, ' ' ORDER BY pos), '') AS clean_text,
           |  COUNT(*) AS n_tokens, COUNT(CASE WHEN covered THEN 1 END) AS n_removed
           |FROM k GROUP BY doc_id""".stripMargin),
      // text-comparing full outer join (Spark compares xxhash64(text) —
      // identical absent collisions); unchanged rows excluded both sides
      "q_snapshot_diff" ->
        ("""WITH prev AS (SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 0),
           |cur AS (SELECT doc_id, CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END AS text
           |  FROM documents WHERE doc_id % 11 <> 0),
           |j AS (SELECT COALESCE(prev.doc_id, cur.doc_id) AS doc_id,
           |  CASE WHEN prev.doc_id IS NULL THEN 'added'
           |       WHEN cur.doc_id IS NULL THEN 'removed'
           |       WHEN prev.text <> cur.text THEN 'changed'
           |       ELSE 'unchanged' END AS change
           |  FROM prev FULL OUTER JOIN cur ON prev.doc_id = cur.doc_id)
           |SELECT doc_id, change FROM j WHERE change <> 'unchanged'""".stripMargin),
      "q_contamination_score" ->
        ("""WITH t AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS toks FROM documents),
           |g AS (SELECT doc_id, unnest(list_distinct(CASE WHEN len(toks) < 13 THEN [array_to_string(toks, ' ')]
           |  ELSE list_transform(range(1, len(toks) - 11), i -> array_to_string(list_slice(toks, i, i + 12), ' ')) END)) AS gr FROM t),
           |ev AS (SELECT DISTINCT gr FROM g WHERE doc_id IN (SELECT doc_id FROM documents ORDER BY doc_id LIMIT 2))
           |SELECT g.doc_id, COUNT(*) AS n_grams, COUNT(ev.gr) AS n_eval_grams,
           |  CAST(COUNT(ev.gr) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS contamination
           |FROM g LEFT JOIN ev ON g.gr = ev.gr GROUP BY g.doc_id""".stripMargin),
      "q_weighted_sample" ->
        ("""SELECT doc_id FROM documents
           |WHERE CAST('0x' || substr(md5(doc_id || ':w42'), 1, 8) AS BIGINT) * 32
           |  < LEAST(CAST(len(regexp_split_to_array(lower(text), '\s+')) AS BIGINT), 32) * 4294967296""".stripMargin),
      "q_packed_text" ->
        ("WITH c AS (SELECT doc_id, source, text, " +
          "CAST(LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1 AS BIGINT) AS nt FROM documents), " +
          "w AS (SELECT doc_id, source, text, nt, " +
          "CAST(FLOOR(COALESCE(SUM(nt) OVER (PARTITION BY source ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 256) AS BIGINT) AS chunk_id FROM c) " +
          "SELECT source, chunk_id, COUNT(*) AS n_docs, CAST(SUM(nt) AS BIGINT) AS chunk_tokens, " +
          "string_agg(text, ' ' ORDER BY doc_id) AS packed_text FROM w GROUP BY source, chunk_id"),
      // two unrolled BPE rounds, each a count→argmax→replace chain, with
      // replace() carrying the identical greedy-left merge semantics
      "q_bpe_merges" ->
        ("""WITH w0 AS (
           |  SELECT ' ' || array_to_string(string_split(w, ''), ' ') || ' ' AS syms, COUNT(*) AS freq
           |  FROM (SELECT unnest(regexp_split_to_array(lower(text), '\s+')) AS w FROM documents) t
           |  WHERE w <> '' GROUP BY w),
           |p1 AS (SELECT unnest(list_transform(range(1, len(els)), i -> els[i] || ' ' || els[i+1])) AS p, freq
           |  FROM (SELECT string_split(trim(syms), ' ') AS els, freq FROM w0) t),
           |t1 AS (SELECT p, CAST(SUM(freq) AS BIGINT) AS n FROM p1 GROUP BY p ORDER BY n DESC, p LIMIT 1),
           |w1 AS (SELECT replace(syms, ' ' || (SELECT p FROM t1) || ' ', ' ' || replace((SELECT p FROM t1), ' ', '') || ' ') AS syms, freq FROM w0),
           |p2 AS (SELECT unnest(list_transform(range(1, len(els)), i -> els[i] || ' ' || els[i+1])) AS p, freq
           |  FROM (SELECT string_split(trim(syms), ' ') AS els, freq FROM w1) t),
           |t2 AS (SELECT p, CAST(SUM(freq) AS BIGINT) AS n FROM p2 GROUP BY p ORDER BY n DESC, p LIMIT 1)
           |SELECT CAST(1 AS INTEGER) AS rank, p AS pair, n FROM t1
           |UNION ALL SELECT CAST(2 AS INTEGER) AS rank, p AS pair, n FROM t2""".stripMargin),
      // the same fixed replace-chain per word, then per-doc token totals
      "q_bpe_encode" ->
        ("""WITH w AS (SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\s+')) AS w FROM documents),
           |s AS (SELECT doc_id, ' ' || array_to_string(string_split(w, ''), ' ') || ' ' AS syms FROM w WHERE w <> ''),
           |m AS (SELECT doc_id, replace(replace(replace(syms, ' e r ', ' er '), ' t h ', ' th '), ' th e ', ' the ') AS ms FROM s)
           |SELECT doc_id, COUNT(*) AS n_words, CAST(SUM(len(string_split(trim(ms), ' '))) AS BIGINT) AS n_bpe_tokens
           |FROM m GROUP BY doc_id""".stripMargin),
      "q_source_stats" ->
        ("WITH t AS (SELECT source, CAST(LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1 AS BIGINT) AS nt FROM documents) " +
          "SELECT source, COUNT(*) AS n_docs, CAST(MIN(nt) AS BIGINT) AS min_tokens, CAST(MAX(nt) AS BIGINT) AS max_tokens, " +
          "CAST(SUM(nt) AS DOUBLE) / COUNT(*) AS avg_tokens, quantile_cont(nt, 0.5) AS median_tokens " +
          "FROM t GROUP BY source"),
      // DuckDB's native ASOF LEFT JOIN is the oracle for the union-sort form
      "q_asof_attribution" ->
        ("""WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS tus FROM events),
           |p AS (SELECT user_id AS p_user, epoch_us(ts) AS p_tus, event_id AS purchase_id
           |      FROM events WHERE event_type = 'purchase')
           |SELECT e.event_id, e.user_id, p.purchase_id, e.tus - p.p_tus AS gap_us
           |FROM e ASOF LEFT JOIN p ON e.user_id = p.p_user AND e.tus >= p.p_tus""".stripMargin),
      // the bucketed equi-join must equal the plain inequality join
      "q_range_join_window" ->
        ("""WITH a AS (SELECT event_id AS anchor_id, epoch_us(ts) AS s_us, epoch_us(ts) + 7200000000 AS e_us
           |      FROM events WHERE event_type = 'signup'),
           |e AS (SELECT event_id, epoch_us(ts) AS tus FROM events)
           |SELECT a.anchor_id, CAST(COUNT(e.event_id) AS BIGINT) AS n_events,
           |  MIN(e.event_id) AS min_event_id, MAX(e.event_id) AS max_event_id
           |FROM a LEFT JOIN e ON e.tus >= a.s_us AND e.tus < a.e_us
           |GROUP BY a.anchor_id""".stripMargin),
      // the whole register table recomputed in SQL: md5 split + bin()-based
      // leading-zero count — bitwise agreement row for row
      "q_hll_registers" -> hllRegistersOracleSql,
      // snapshot ∪ delta maintenance: merged halves must equal the
      // whole-corpus sketch bit for bit — same oracles as the originals
      "q_hll_merge" -> hllRegistersOracleSql,
      "q_hist_merge" -> logHistogramOracleSql,
      "q_cms_merge" -> cmsSketchOracleSql,
      "q_zone_map" -> zoneMapOracleSql,
      "q_bm25_indexed" -> bm25OracleSql,
      "q_hll_estimate" ->
        (s"""WITH c AS (SELECT CAST('0x' || substr(md5(text), 1, 2) AS INTEGER) AS register,
           |  CAST('0x' || substr(md5(text), 3, 14) AS BIGINT) AS v FROM documents),
           |r AS (SELECT register, MAX(CAST(CASE WHEN v = 0 THEN 57 ELSE 57 - length(bin(v)) END AS INTEGER)) AS max_rho
           |  FROM c GROUP BY register),
           |a AS (SELECT CAST(COUNT(*) AS INTEGER) AS nonzero,
           |  CAST(SUM(1::BIGINT << (40 - LEAST(max_rho, 40))) AS BIGINT) AS z_present FROM r)
           |SELECT 256 AS m, nonzero,
           |  z_present + CAST(256 - nonzero AS BIGINT) * 1099511627776 AS z_scaled,
           |  ${SketchOps.hllAlphaScaled(8)} / CAST(z_present + CAST(256 - nonzero AS BIGINT) * 1099511627776 AS DOUBLE) AS estimate_raw
           |FROM a""".stripMargin),
      "q_log_histogram" -> logHistogramOracleSql,
      // the full Count-Min counter matrix recomputed in SQL
      "q_cms_sketch" -> cmsSketchOracleSql,
      "q_cms_heavy" ->
        ("""WITH wf AS (SELECT w FROM (SELECT unnest(regexp_split_to_array(lower(text), '\s+')) AS w FROM documents) t WHERE w <> ''),
           |ds AS (SELECT CAST(unnest(range(4)) AS INTEGER) AS d),
           |sk AS (SELECT d, CAST(CAST('0x' || substr(md5(CAST(d AS VARCHAR) || ':' || w), 1, 8) AS BIGINT) % 256 AS INTEGER) AS bucket,
           |  CAST(COUNT(*) AS BIGINT) AS cnt FROM wf CROSS JOIN ds GROUP BY 1, 2),
           |top AS (SELECT w AS item, CAST(COUNT(*) AS BIGINT) AS true_count FROM wf GROUP BY w ORDER BY true_count DESC, item LIMIT 10),
           |pb AS (SELECT item, true_count, d,
           |  CAST(CAST('0x' || substr(md5(CAST(d AS VARCHAR) || ':' || item), 1, 8) AS BIGINT) % 256 AS INTEGER) AS bucket
           |  FROM top CROSS JOIN ds)
           |SELECT pb.item, MIN(sk.cnt) AS cms_count, MIN(pb.true_count) AS true_count
           |FROM pb JOIN sk USING (d, bucket) GROUP BY pb.item""".stripMargin),
      // the quantile read-off replayed over the same histogram CTE:
      // smallest bin with cum >= ceil(q*total), ceil in pure BIGINT
      "q_hist_quantiles" ->
        ("""WITH h AS (SELECT CASE WHEN n_chars <= 0 THEN -1 ELSE CAST(length(bin(n_chars)) AS INTEGER) - 1 END AS bin,
           |  CAST(COUNT(*) AS BIGINT) AS n, CAST(MIN(n_chars) AS BIGINT) AS min_v, CAST(MAX(n_chars) AS BIGINT) AS max_v
           |  FROM documents GROUP BY 1),
           |c AS (SELECT bin, min_v, max_v, CAST(SUM(n) OVER (ORDER BY bin) AS BIGINT) AS cum,
           |  CAST(SUM(n) OVER () AS BIGINT) AS total FROM h),
           |q AS (SELECT * FROM (VALUES (1, 4), (1, 2), (3, 4), (9, 10)) t(q_num, q_den)),
           |j AS (SELECT q_num, q_den, bin, min_v, max_v,
           |  ROW_NUMBER() OVER (PARTITION BY q_num, q_den ORDER BY bin) AS rk
           |  FROM c CROSS JOIN q WHERE cum >= (total * q_num + q_den - 1) // q_den)
           |SELECT q_num, q_den, bin, min_v, max_v FROM j WHERE rk = 1""".stripMargin),
      "q_zorder_key" -> zorderOracleSql,
      // the salted join's oracle is the PLAIN join — salting must be
      // result-invariant, that is the whole contract
      "q_salted_join" ->
        ("SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n, " +
          "CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents " +
          "FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1"),
      // likewise the bucketed join: layout must not change the answer
      "q_bucketed_join" ->
        ("SELECT o_custkey, c_name, CAST(COUNT(*) AS BIGINT) AS n_orders, " +
          "CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents " +
          "FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1, 2"),
      "q_bm25_topk" -> bm25OracleSql,
      "x_stream_join" -> streamJoinOracle,
      "q_graph_degrees" ->
        (s"""WITH e AS ($edgeSynthSql),
            |n AS (SELECT src AS node, 1 AS o, 0 AS i FROM e UNION ALL SELECT dst, 0, 1 FROM e)
            |SELECT node, CAST(SUM(o) AS BIGINT) AS out_deg, CAST(SUM(i) AS BIGINT) AS in_deg
            |FROM n GROUP BY node""".stripMargin),
      // the hub cap is mirrored via the same window COUNT — the oracle
      // detects both missed pairs and a broken cap
      "q_graph_cocitation" ->
        (s"""WITH e AS ($edgeSynthSql),
            |dd AS (SELECT DISTINCT src AS s, dst AS d FROM e),
            |c AS (SELECT s, d, COUNT(*) OVER (PARTITION BY d) AS bn FROM dd),
            |f AS (SELECT s, d FROM c WHERE bn <= 64)
            |SELECT x.s AS a, y.s AS b, CAST(COUNT(*) AS BIGINT) AS shared
            |FROM f x JOIN f y ON x.d = y.d AND x.s < y.s GROUP BY 1, 2""".stripMargin),
      "q_graph_components" ->
        (s"""WITH RECURSIVE e AS ($edgeSynthSql),
            |edges AS (SELECT src AS a, dst AS b FROM e UNION SELECT dst, src FROM e),
            |reach AS (SELECT a AS id, a AS r FROM edges UNION SELECT reach.id, edges.b FROM reach JOIN edges ON reach.r = edges.a)
            |SELECT id AS node, MIN(r) AS component FROM reach GROUP BY id""".stripMargin),
      // 3 iterations unrolled; every step integer (// is floor-div on
      // positives, same truncation as Spark's `div`); SUM(BIGINT) is
      // HUGEINT in DuckDB → cast back per iteration
      "q_graph_pagerank" ->
        (s"""WITH e0 AS ($edgeSynthSql),
            |e AS (SELECT DISTINCT src AS s, dst AS d FROM e0),
            |nodes AS (SELECT s AS node FROM e UNION SELECT d FROM e),
            |cnt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
            |od AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS od FROM e GROUP BY s),
            |r0 AS (SELECT node, 1000000000000 // (SELECT n FROM cnt) AS rank FROM nodes),
            |c1 AS (SELECT e.d AS node, CAST(SUM(r0.rank // od.od) AS BIGINT) AS c FROM e JOIN r0 ON e.s = r0.node JOIN od ON e.s = od.s GROUP BY e.d),
            |r1 AS (SELECT nodes.node, (1000000000000 - 1000000000000 * 85 // 100) // (SELECT n FROM cnt) + (85 * COALESCE(c1.c, 0)) // 100 AS rank FROM nodes LEFT JOIN c1 ON nodes.node = c1.node),
            |c2 AS (SELECT e.d AS node, CAST(SUM(r1.rank // od.od) AS BIGINT) AS c FROM e JOIN r1 ON e.s = r1.node JOIN od ON e.s = od.s GROUP BY e.d),
            |r2 AS (SELECT nodes.node, (1000000000000 - 1000000000000 * 85 // 100) // (SELECT n FROM cnt) + (85 * COALESCE(c2.c, 0)) // 100 AS rank FROM nodes LEFT JOIN c2 ON nodes.node = c2.node),
            |c3 AS (SELECT e.d AS node, CAST(SUM(r2.rank // od.od) AS BIGINT) AS c FROM e JOIN r2 ON e.s = r2.node JOIN od ON e.s = od.s GROUP BY e.d),
            |r3 AS (SELECT nodes.node, (1000000000000 - 1000000000000 * 85 // 100) // (SELECT n FROM cnt) + (85 * COALESCE(c3.c, 0)) // 100 AS rank FROM nodes LEFT JOIN c3 ON nodes.node = c3.node)
            |SELECT node, rank FROM r3""".stripMargin),
      "q_url_parse" ->
        (urlParseOracleCte + "\nSELECT doc_id, url, scheme, host, domain, url_norm FROM parsed"),
      "q_url_dedup" ->
        (urlParseOracleCte + "\nSELECT url_norm, MIN(doc_id) AS keep_id, " +
          "CAST(COUNT(*) AS BIGINT) AS n_dupes FROM parsed GROUP BY url_norm"),
      "q_domain_blocklist" ->
        (urlParseOracleCte + "\nSELECT doc_id, host, domain FROM parsed WHERE domain <> 'example.org'"),
      // same md5 hex, same lexicographic order, same doc_id tiebreak →
      // the capped sample is identical row-for-row across engines
      "q_domain_cap" ->
        (urlParseOracleCte + "\nSELECT doc_id, domain, rk FROM (SELECT doc_id, domain, " +
          "ROW_NUMBER() OVER (PARTITION BY domain ORDER BY md5(doc_id::VARCHAR || ':cap'), doc_id) AS rk " +
          "FROM parsed) t WHERE rk <= 50"),
      // same window: priority DESC, url string tie-break, 0-based round
      "q_frontier_schedule" ->
        ("""WITH f AS (SELECT 'https://' || source || '.example.com/d/' || doc_id AS url,
           |  source || '.example.com' AS host, doc_id % 97 AS priority FROM documents),
           |r AS (SELECT url, host,
           |  ROW_NUMBER() OVER (PARTITION BY host ORDER BY priority DESC, url) AS rk FROM f)
           |SELECT url, host, CAST(rk - 1 AS BIGINT) AS fetch_round FROM r WHERE rk <= 50""".stripMargin),
      // hand-derived from the inline fixture: m_missing referenced but
      // not stored, m_orphan stored but never referenced; m1/m2 consistent
      "x_ref_integrity" ->
        ("SELECT media_ref, status FROM (VALUES ('m_missing', 'dangling'), " +
          "('m_orphan', 'orphan')) t(media_ref, status)"),
      "q_term_doc_freq" ->
        ("SELECT term, CAST(COUNT(*) AS BIGINT) AS tf, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df FROM " +
          "(SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\\s+')) AS term FROM documents) t " +
          "WHERE term <> '' GROUP BY term"),
      "q_inverted_index" ->
        ("SELECT term, df, postings FROM (SELECT term, CAST(COUNT(*) AS BIGINT) AS df, " +
          "string_agg(doc_id::VARCHAR, ',' ORDER BY doc_id) AS postings FROM " +
          "(SELECT DISTINCT doc_id, unnest(regexp_split_to_array(lower(text), '\\s+')) AS term FROM documents) t " +
          "WHERE term <> '' GROUP BY term) x WHERE df <= 400"),
      "q_vocab_topk" ->
        ("SELECT term, n FROM (SELECT term, count(*)::BIGINT AS n FROM " +
          "(SELECT unnest(regexp_split_to_array(lower(text), '\\s+')) AS term FROM documents) t0 " +
          "WHERE term <> '' GROUP BY term) t1 ORDER BY n DESC, term LIMIT 100"),
      "q_normalize" ->
        ("SELECT doc_id, trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), " +
          "' +', ' ', 'g')) AS norm_text FROM documents"),
      "q_pipeline_clean" ->
        ("WITH norm AS (SELECT doc_id, trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm_text FROM documents), " +
          "dd AS (SELECT MIN(doc_id) AS doc_id FROM norm GROUP BY norm_text), " +
          "q AS (SELECT dd.doc_id FROM dd JOIN documents USING (doc_id) WHERE LENGTH(text) >= 50) " +
          "SELECT doc_id FROM q WHERE substr(md5(doc_id::VARCHAR || ':s42'), 1, 8) < '80000000'"),
      "q_knn_brute" -> knnBruteOracle,
      "q_knn_lsh" -> knnLshOracle,
      "q_knn_pq" -> knnPqOracle,
      "q_knn_ivf_pq" -> knnIvfPqOracle,
      // same symmetric max-abs truncating quantization (trunc == Spark's
      // double->int cast), same exact integer dot and self-dots, same
      // one-sqrt-one-divide cosine — bitwise parity end to end
      "q_knn_int8" ->
        ("""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS d FROM embeddings),
           |m AS (SELECT vec_id, d, list_aggregate(list_transform(d, x -> abs(x)), 'max') AS maxabs FROM e),
           |qz AS (SELECT vec_id,
           |  CASE WHEN maxabs = 0 THEN list_transform(d, x -> 0)
           |       ELSE list_transform(d, x -> CAST(trunc(x * 127.0 / maxabs) AS INTEGER)) END AS qvec FROM m),
           |sd AS (SELECT vec_id, qvec,
           |  CAST(list_sum(list_transform(qvec, x -> CAST(x AS BIGINT) * x)) AS BIGINT) AS self_q FROM qz),
           |qs AS (SELECT vec_id AS query_id, qvec AS q_qvec, self_q AS q_self FROM sd
           |  WHERE vec_id IN (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 5)),
           |sc AS (SELECT query_id, z.vec_id,
           |  CAST(list_sum(list_transform(range(1, len(z.qvec) + 1),
           |    i -> CAST(z.qvec[i] AS BIGINT) * q_qvec[i])) AS BIGINT) AS dot_q,
           |  z.self_q AS self_q, q_self FROM sd z, qs WHERE z.vec_id <> query_id),
           |sc2 AS (SELECT query_id, vec_id, dot_q,
           |  CASE WHEN self_q = 0 OR q_self = 0 THEN -1.0
           |       ELSE CAST(dot_q AS DOUBLE) / sqrt(CAST(self_q * q_self AS DOUBLE)) END AS score FROM sc),
           |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rank FROM sc2)
           |SELECT query_id, vec_id, dot_q, score, CAST(rank AS BIGINT) AS rank FROM r WHERE rank <= 10""".stripMargin),
      "q_knn_ivf" -> knnIvfOracle,
      "q_semantic_dup_pairs" -> semanticOracle,
      "q_media_features" -> mediaOracle,
      "q_media_image" -> mediaImageOracle,
      "q_media_resize" -> mediaResizeOracle,
      "q_media_frames" -> mediaFramesOracle,
      "x_sql_udf" -> sqlUdfOracle,
      "x_stream_extract" -> extractionOracle(fx(streamFixtures: _*)),
      "x_stream_window" -> streamWindowOracle,
      // same tokenization + md5 bucket math as q_cms_sketch, grouped per
      // tumbling-hour window of the fixture's event times
      "x_stream_cms" ->
        ("""WITH docs AS (SELECT * FROM (VALUES
           |  (1767225600, 'alpha text one'), (1767225600, 'beta text two'), (1767225600, 'gamma text three'),
           |  (1767229200, 'delta text four'), (1767229200, 'epsilon text five'),
           |  (1767229200, 'alpha text one'), (1767229200, 'gamma text three')) v(w, text)),
           |wf AS (SELECT w, tok FROM (SELECT w, unnest(regexp_split_to_array(lower(text), '\s+')) AS tok FROM docs) t WHERE tok <> ''),
           |ds AS (SELECT CAST(unnest(range(4)) AS INTEGER) AS d)
           |SELECT CAST(w AS BIGINT) AS win_start, d,
           |  CAST(CAST('0x' || substr(md5(CAST(d AS VARCHAR) || ':' || tok), 1, 8) AS BIGINT) % 256 AS INTEGER) AS bucket,
           |  CAST(COUNT(*) AS BIGINT) AS cnt
           |FROM wf CROSS JOIN ds GROUP BY 1, 2, 3""".stripMargin),
      "x_stream_dedup" -> streamDedupOracle,
      "x_stream_neardedup" -> nearStreamDedupOracle,
      "x_stream_decontaminate" -> streamDecontamOracle,
      "x_stream_boilerplate" ->
        ("SELECT CAST(doc_id AS BIGINT) AS doc_id, clean_text FROM (VALUES " +
          "(11, 'keep a' || chr(10) || 'keep b'), (12, ''), (13, 'clean only'), " +
          "(14, 'also keep')) AS t(doc_id, clean_text)"),
      // hand-derived repaired+composed forms (chr codes = true code points)
      "x_stream_repair" ->
        ("SELECT CAST(doc_id AS BIGINT) AS doc_id, clean_text FROM (VALUES " +
          "(21, 'Caf' || chr(233)), (22, 'caf' || chr(233)), (23, 'plain'), " +
          "(24, 'don' || chr(8217) || 't')) AS t(doc_id, clean_text)"),
      "q_media_gif_frames" -> mediaGifFramesOracle,
      "x_resume" -> resumeOracle,
      "x_time_travel" -> timeTravelOracle,
      // same md5 hex ranges, same salt, same ascending first-match rule
      "q_split_corpus" ->
        ("SELECT doc_id, CASE WHEN h < 'a0000000' THEN 'train' " +
          "WHEN h < 'd0000000' THEN 'val' ELSE 'test' END AS split " +
          "FROM (SELECT doc_id, substr(md5(doc_id::VARCHAR || ':split42'), 1, 8) AS h FROM documents) t"),
      "x_html_mixed" -> htmlMixedOracle,
      "x_html_images" -> htmlImagesOracle,
      "x_html_links" -> htmlLinksOracle,
      "x_html_anchors" -> htmlAnchorsOracle,
      "x_warc_extract" -> warcOracle,
      "x_stream_warc" -> warcOracle,
      "x_robots_filter" -> robotsOracle,
      // by hand from the robots fixture: comment stripped, any casing,
      // file order per host
      "x_robots_sitemaps" -> ("SELECT * FROM (VALUES " +
        "('example.com', 0, 'https://example.com/sitemap.xml'), " +
        "('blocked.org', 0, 'https://cdn.blocked.org/sm1.xml'), " +
        "('blocked.org', 1, 'https://cdn.blocked.org/sm2.xml')" +
        ") AS t(host, pos, sitemap)"),
      // hand-derived RFC 3986 resolutions for the inline href fixture
      "x_resolve_urls" -> ("SELECT CAST(doc_id AS BIGINT) AS doc_id, href, resolved FROM (VALUES " +
        "(1, 'https://x.org/p', 'https://x.org/p'), " +
        "(2, '//cdn.com/img', 'https://cdn.com/img'), " +
        "(3, '/root/x', 'https://a.com/root/x'), " +
        "(4, '?page=2', 'https://a.com/dir/sub/page.html?page=2'), " +
        "(5, '#frag', 'https://a.com/dir/sub/page.html?q=1'), " +
        "(6, 'other.html', 'https://a.com/dir/sub/other.html'), " +
        "(7, '../up.html', 'https://a.com/dir/up.html'), " +
        "(8, 'a/b/../c/./d?x=1#f', 'https://a.com/dir/sub/a/c/d?x=1'), " +
        "(9, 'rel', 'https://a.com/rel'), " +
        "(10, 'rel', '')" +
        ") AS t(doc_id, href, resolved)"),
      // hand-derived hop by hop: a.html merges with /dir/, /fish/x is
      // robots-disallowed, ../up.html climbs to the root, //w.com/proto
      // takes the page scheme, the external host has no rules; constant
      // priority -> url-string order within each host
      "x_frontier_chain" -> ("SELECT url, host, CAST(fetch_round AS BIGINT) AS fetch_round FROM (VALUES " +
        "('https://ext.org/abs', 'ext.org', 0), " +
        "('https://w.com/dir/a.html', 'w.com', 0), " +
        "('https://w.com/proto', 'w.com', 1), " +
        "('https://w.com/up.html', 'w.com', 2)" +
        ") AS t(url, host, fetch_round)"),
      // hand-derived RFC 9309 ground truth (see the query's per-URL notes)
      "x_robots_full" -> ("SELECT CAST(doc_id AS BIGINT) AS doc_id, host, url_norm FROM (VALUES " +
        "(2, 'w.com', 'https://w.com/file.php?q=1'), " +
        "(4, 'w.com', 'https://w.com/fish/ok/x'), " +
        "(6, 'w.com', 'https://w.com/ab'), " +
        "(7, 'w.com', 'https://w.com/dual'), " +
        "(8, 'w.com', 'https://w.com/'), " +
        "(9, 'open.org', 'https://open.org/x'), " +
        "(10, 'nada.io', 'https://nada.io/y')" +
        ") AS t(doc_id, host, url_norm)"),
      "x_html_meta" -> htmlMetaOracle,
      // hand-derived from the two inline fixtures (nav grid skipped, implied
      // closes, entity decode, intra-cell block boundary = space, nested
      // table flattens, td-without-tr lands on row 0, empty cell kept)
      "x_html_tables" -> ("SELECT * FROM (VALUES " +
        "('t1', 0, 0, 0, 'name'), ('t1', 0, 0, 1, 'price & tax'), " +
        "('t1', 0, 1, 0, 'widget'), ('t1', 0, 1, 1, '9.99'), " +
        "('t1', 0, 2, 0, 'multi block'), ('t1', 0, 2, 1, '3'), " +
        "('t1', 1, 0, 0, 'second'), ('t1', 1, 0, 1, ''), " +
        "('t2', 0, 0, 0, 'a inner b'), ('t2', 1, 0, 0, 'x')" +
        ") AS t(media_ref, tbl, row, col, cell)"),
      // by construction: a2 == a at every sample point (distance 0), the
      // reversed gradient flips all 64 bits, the garbage blob drops
      "x_media_dhash" -> "SELECT * FROM (VALUES ('a', 'a2', 0)) AS t(ref_a, ref_b, hamming)",
      // by construction: doubling volume multiplies every segment energy
      // by 4 and preserves all 64 orderings (distance 0); the reversed
      // ramp flips them all; the garbage blob drops
      "x_media_ahash" -> "SELECT * FROM (VALUES ('w1', 'w2', 0)) AS t(ref_a, ref_b, hamming)",
      // the gopher pipeline with source carried through, collapsed to the
      // per-source curation rollup (SUM(BIGINT) → HUGEINT, hence the CASTs)
      "q_source_curation" -> ("""
        |WITH t AS (SELECT doc_id, source, text,
        |  list_filter(regexp_split_to_array(text, '\s+'), w -> w <> '') AS w,
        |  string_split(text, chr(10)) AS l FROM documents),
        |u AS (SELECT source,
        |  CAST(len(w) AS BIGINT) AS wc, CAST(len(l) AS BIGINT) AS lc,
        |  CAST(coalesce(list_sum(list_transform(w, x -> len(x))), 0) AS BIGINT) AS sumlen,
        |  CAST(len(text) - len(replace(text, '#', '')) AS BIGINT) AS hashes,
        |  CAST((len(text) - len(replace(text, '...', ''))) // 3 AS BIGINT) AS dots,
        |  CAST(len(text) - len(replace(text, '…', '')) AS BIGINT) AS ells,
        |  CAST(len(list_filter(l, x -> ltrim(x) LIKE '-%' OR ltrim(x) LIKE '*%' OR ltrim(x) LIKE '•%')) AS BIGINT) AS bl,
        |  CAST(len(list_filter(l, x -> rtrim(x) LIKE '%...' OR rtrim(x) LIKE '%…')) AS BIGINT) AS el,
        |  CAST(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) AS aw,
        |  ((CASE WHEN list_contains(w, 'the') THEN 1 ELSE 0 END) +
        |   (CASE WHEN list_contains(w, 'be') THEN 1 ELSE 0 END) +
        |   (CASE WHEN list_contains(w, 'to') THEN 1 ELSE 0 END) +
        |   (CASE WHEN list_contains(w, 'of') THEN 1 ELSE 0 END) +
        |   (CASE WHEN list_contains(w, 'and') THEN 1 ELSE 0 END) +
        |   (CASE WHEN list_contains(w, 'that') THEN 1 ELSE 0 END) +
        |   (CASE WHEN list_contains(w, 'have') THEN 1 ELSE 0 END) +
        |   (CASE WHEN list_contains(w, 'with') THEN 1 ELSE 0 END)) AS sh
        |  FROM t),
        |v AS (SELECT source, wc,
        |  (wc >= 50 AND wc <= 100000) AND (3*wc <= sumlen AND sumlen <= 10*wc)
        |    AND (10*(hashes + dots + ells) <= wc) AND (10*bl <= 9*lc)
        |    AND (10*el <= 3*lc) AND (5*aw >= 4*wc) AND (sh >= 2) AS pass FROM u)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
        |  CAST(SUM(wc) AS BIGINT) AS n_tokens
        |FROM v GROUP BY source""".stripMargin),
      // by hand from the inline span fixture: order-sorted pieces joined
      // by ' ', 64 tokens per media span + whitespace tokens per text span
      "x_interleaved_pack" -> ("SELECT CAST(doc_id AS BIGINT) AS doc_id, packed_text, " +
        "CAST(n_tokens AS BIGINT) AS n_tokens FROM (VALUES " +
        "(1, 'hello world <|image|> tail bit', 68), " +
        "(2, '<|audio|> solo', 65), " +
        "(3, 'only text here', 3)" +
        ") AS t(doc_id, packed_text, n_tokens)"),
      // same token split, same window starts (range excludes len, Spark's
      // sequence includes len-1 — identical sets), same 1-based inclusive
      // slice clamping at the tail
      "q_sliding_chunks" -> ("""
        |WITH t AS (SELECT doc_id,
        |  list_filter(string_split(text, ' '), x -> x <> '') AS l FROM documents),
        |u AS (SELECT doc_id, l,
        |  unnest(range(0, greatest(len(l), 1), 16)) AS start FROM t)
        |SELECT doc_id, CAST(start // 16 AS BIGINT) AS chunk_idx,
        |  array_to_string(l[CAST(start + 1 AS BIGINT):CAST(start + 32 AS BIGINT)], ' ') AS chunk_text
        |FROM u""".stripMargin),
      // same integer comparisons per Gopher rule; list ops mirror the
      // Spark higher-order functions element-for-element
      "q_gopher_quality" -> ("""
        |WITH t AS (SELECT doc_id, text,
        |  list_filter(regexp_split_to_array(text, '\s+'), w -> w <> '') AS w,
        |  string_split(text, chr(10)) AS l FROM documents),
        |u AS (SELECT doc_id,
        |  CAST(len(w) AS BIGINT) AS wc, CAST(len(l) AS BIGINT) AS lc,
        |  CAST(coalesce(list_sum(list_transform(w, x -> len(x))), 0) AS BIGINT) AS sumlen,
        |  CAST(len(text) - len(replace(text, '#', '')) AS BIGINT) AS hashes,
        |  CAST((len(text) - len(replace(text, '...', ''))) // 3 AS BIGINT) AS dots,
        |  CAST(len(text) - len(replace(text, '…', '')) AS BIGINT) AS ells,
        |  CAST(len(list_filter(l, x -> ltrim(x) LIKE '-%' OR ltrim(x) LIKE '*%' OR ltrim(x) LIKE '•%')) AS BIGINT) AS bl,
        |  CAST(len(list_filter(l, x -> rtrim(x) LIKE '%...' OR rtrim(x) LIKE '%…')) AS BIGINT) AS el,
        |  CAST(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) AS aw,
        |  ((CASE WHEN list_contains(w, 'the') THEN 1 ELSE 0 END) +
        |   (CASE WHEN list_contains(w, 'be') THEN 1 ELSE 0 END) +
        |   (CASE WHEN list_contains(w, 'to') THEN 1 ELSE 0 END) +
        |   (CASE WHEN list_contains(w, 'of') THEN 1 ELSE 0 END) +
        |   (CASE WHEN list_contains(w, 'and') THEN 1 ELSE 0 END) +
        |   (CASE WHEN list_contains(w, 'that') THEN 1 ELSE 0 END) +
        |   (CASE WHEN list_contains(w, 'have') THEN 1 ELSE 0 END) +
        |   (CASE WHEN list_contains(w, 'with') THEN 1 ELSE 0 END)) AS sh
        |  FROM t)
        |SELECT doc_id, wc AS n_words,
        |  wc >= 50 AND wc <= 100000 AS f_word_count,
        |  3*wc <= sumlen AND sumlen <= 10*wc AS f_mean_word_len,
        |  10*(hashes + dots + ells) <= wc AS f_symbol_ratio,
        |  10*bl <= 9*lc AS f_bullet_lines,
        |  10*el <= 3*lc AS f_ellipsis_lines,
        |  5*aw >= 4*wc AS f_alpha_words,
        |  sh >= 2 AS f_stopwords,
        |  (wc >= 50 AND wc <= 100000) AND (3*wc <= sumlen AND sumlen <= 10*wc)
        |    AND (10*(hashes + dots + ells) <= wc) AND (10*bl <= 9*lc)
        |    AND (10*el <= 3*lc) AND (5*aw >= 4*wc) AND (sh >= 2) AS pass
        |FROM u""".stripMargin),
      "x_sitemap" -> ("SELECT * FROM (VALUES " +
        "('example.com', 'urlset', 0, 'https://example.com/'), " +
        "('example.com', 'urlset', 1, 'https://example.com/a?x=1&y=2'), " +
        "('example.com', 'urlset', 2, 'https://example.com/b'), " +
        "('example.org', 'sitemapindex', 0, 'https://example.org/sitemap1.xml'), " +
        "('example.org', 'sitemapindex', 1, 'https://example.org/sitemap2.xml')" +
        ") AS t(host, kind, pos, loc)"),
      // same md5-hex u32, same CASE rationals, same strict < — row-exact
      "q_mix_sources" ->
        ("SELECT doc_id, source FROM documents WHERE " +
          "CAST('0x' || substr(md5(doc_id::VARCHAR || ':mix'), 1, 8) AS BIGINT) * " +
          "(CASE source WHEN 'src0' THEN 1 WHEN 'src1' THEN 2 WHEN 'src2' THEN 4 WHEN 'src3' THEN 4 ELSE 1 END) < " +
          "(CASE source WHEN 'src0' THEN 1 WHEN 'src1' THEN 1 WHEN 'src2' THEN 1 WHEN 'src3' THEN 3 ELSE 0 END) * 4294967296"))
    (extraction ++ sql).toMap
  }

  /** By-construction oracle for the mixed interleaved document. */
  private def htmlMixedOracle: String = {
    val f01 = fx("f01_minimal_flate").head
    val h01 = hx("h01_article").head
    val rows = Seq(
      "('mix01', 0, 'text', 'intro', '')",
      s"('mix01', 1, 'pdf_text', ${sqlStr(f01.expected)}, ${sqlStr(f01.name)})",
      s"('mix01', 2, 'html_text', ${sqlStr(h01.expected)}, ${sqlStr(h01.name)})",
      "('mix01', 3, 'error', '', 'f16_garbage')",
      "('mix01', 4, 'text', 'outro', '')")
    s"SELECT * FROM (VALUES ${rows.mkString(", ")}) AS t(doc_id, ord, kind, text, media_ref)"
  }

  /** h01 has no in-content images; h05 keeps only the non-drop-context one. */
  private def htmlImagesOracle: String = {
    val rows = HtmlBuilder.h05ExpectedImages.zipWithIndex.map { case (src, i) =>
      s"('h05_images', $i, ${sqlStr(src)})"
    }
    s"SELECT * FROM (VALUES ${rows.mkString(", ")}) AS t(media_ref, pos, img_src)"
  }

  /** By-inspection expected outlinks (hand-derived from the fixture HTML —
    * NOT recomputed through the kernel, so this is a real oracle). */
  private def htmlLinksOracle: String = {
    val rows = Seq(
      "h01_article" -> HtmlBuilder.h01ExpectedLinks,
      "h02_density" -> HtmlBuilder.h02ExpectedLinks,
      "h05_images" -> HtmlBuilder.h05ExpectedLinks).flatMap { case (name, links) =>
      links.zipWithIndex.map { case (href, i) => s"(${sqlStr(name)}, $i, ${sqlStr(href)})" }
    }
    s"SELECT * FROM (VALUES ${rows.mkString(", ")}) AS t(media_ref, pos, href)"
  }

  /** By-inspection expected (href, anchor text) pairs. */
  private def htmlAnchorsOracle: String = {
    val rows = Seq(
      ("h01_article", HtmlBuilder.h01ExpectedLinks, HtmlBuilder.h01ExpectedAnchorTexts),
      ("h02_density", HtmlBuilder.h02ExpectedLinks, HtmlBuilder.h02ExpectedAnchorTexts),
      ("h05_images", HtmlBuilder.h05ExpectedLinks, HtmlBuilder.h05ExpectedAnchorTexts))
      .flatMap { case (name, links, texts) =>
        links.zip(texts).zipWithIndex.map { case ((href, text), i) =>
          s"(${sqlStr(name)}, $i, ${sqlStr(href)}, ${sqlStr(text)})"
        }
      }
    s"SELECT * FROM (VALUES ${rows.mkString(", ")}) AS t(media_ref, pos, href, anchor_text)"
  }
}
