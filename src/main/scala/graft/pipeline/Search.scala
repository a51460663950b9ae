package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Full-text retrieval over a document corpus — Okapi BM25 ranking
  * (Robertson & Walker SIGIR'94; the Lucene-style `ln(1 + ...)`
  * positive idf) as a Spark-native batch operator. A training-data
  * pipeline uses this to pull topical subsets out of a web-scale
  * corpus ("all documents about X"), to build retrieval-augmented
  * training examples, and to audit what a corpus contains.
  *
  * Scale shape (the 100 TB story):
  *   - The per-document work (tokenize, explode) happens in the scan
  *     stage at full parallelism, and the query-term filter is applied
  *     BEFORE the first shuffle — only postings for query terms ever
  *     leave a task. For a q-term query the shuffled volume is
  *     O(docs containing a query term), not O(corpus tokens).
  *   - Everything small broadcasts: the per-term document frequencies
  *     (≤ q rows), the corpus length stats (1 row), and the
  *     query-id → term map. The corpus side never re-partitions.
  *   - The final ranking aggregates (doc, query) score rows — already
  *     reduced to candidates — and takes top-k per query with one
  *     window over those candidates (single-query face: TakeOrdered).
  *
  * Cross-engine exactness (the oracle discipline of this repo): each
  * per-(doc, term) BM25 contribution is computed as ONE identical IEEE
  * double expression on bit-identical integer inputs (tf, df, dl, N,
  * Σdl) in both engines, then quantized with `floor(x · 1e6)` to a
  * BIGINT *before* the cross-row sum — floating addition order can
  * never reorder, and rank ties break on doc id. The only libm call is
  * a single `ln` on an identical double.
  */
object Search {

  /** Postings for the given terms only: one row per (doc, term) with
    * the term frequency and the document token length. The building
    * block [[bm25TopKBatch]] runs on; exposed so callers can persist
    * the full inverted index (pass `terms = None`) and serve many
    * queries from it. */
  def postings(docs: DataFrame, terms: Option[Seq[String]],
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // tokens projected into a named column FIRST (lambda-CSE rule)
    val toks = docs
      .select(col(idCol).as("doc_id"),
        TextOps.tokens(lower(col(textCol))).as("_toks"))
      .withColumn("dl", size(col("_toks")).cast("long"))
    val exploded =
      toks.select(col("doc_id"), col("dl"), explode(col("_toks")).as("term"))
    val wanted = terms match {
      case Some(ts) => exploded.where(col("term").isin(ts: _*))
      case None => exploded
    }
    wanted.groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
  }

  /** Corpus-wide doc count and total token length — the BM25 length
    * normalizer. One map-side-combined aggregate to a single row. */
  def corpusLengthStats(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs.select(size(TextOps.tokens(lower(col(textCol)))).cast("long")
        .as("dl"))
      .agg(count(lit(1)).as("n"), sum(col("dl")).as("sumdl"))

  /** Top-k BM25 retrieval for a batch of queries in ONE pass over the
    * corpus. Returns (query_id, doc_id, score_mu, n_terms): micro-unit
    * integer score (descending), number of query terms matched; ties
    * break to the lower doc id. k1/b are the standard Okapi defaults.
    *
    * A term shared by several queries is scored once per query via the
    * broadcast (query_id, term) map — the corpus-side posting rows are
    * built once for the union of all query terms. */
  def bm25TopKBatch(docs: DataFrame, queries: Seq[(Long, String)],
      k: Int, k1: Double = 1.2, b: Double = 0.75,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val (qdf, allTerms) = queryTermsDf(docs.sparkSession, queries)
    val tf = postings(docs, Some(allTerms), idCol, textCol)
    bm25Rank(tf, corpusLengthStats(docs, idCol, textCol), qdf, k, k1, b)
  }

  /** The broadcast (query_id, term) map plus the distinct term union —
    * ONE copy of the query tokenization, shared by the inline and
    * stored-index serves so their term sets can never diverge. */
  private def queryTermsDf(spark: org.apache.spark.sql.SparkSession,
      queries: Seq[(Long, String)]): (DataFrame, Seq[String]) = {
    require(queries.nonEmpty, "empty query batch")
    val qTerms: Seq[(Long, String)] = queries.flatMap { case (qid, q) =>
      q.toLowerCase.split("\\s+").filter(_.nonEmpty).distinct
        .map(t => (qid, t))
    }
    require(qTerms.nonEmpty, "queries tokenize to no terms")
    import spark.implicits._
    (qTerms.toDF("query_id", "term"), qTerms.map(_._2).distinct)
  }

  /** The BM25 scoring tail over already-built posting rows — ONE copy
    * of the ranking arithmetic shared by [[bm25TopKBatch]] (inline
    * postings) and [[bm25TopKBatchFromIndex]] (stored postings), so
    * stored-serve ≡ inline holds by construction. `tf` carries
    * (term, doc_id, dl, tf) for the query terms only; `stats` is the
    * one-row (n, sumdl) corpus normalizer. */
  private def bm25Rank(tf: DataFrame, stats: DataFrame, qdf: DataFrame,
      k: Int, k1: Double, b: Double): DataFrame = {
    // document frequency per term as a WINDOW over the posting rows,
    // not a groupBy + broadcast self-join: the dfq subtree was a
    // second full execution of tf's lineage (column pruning makes the
    // two subtrees structurally different, so AQE exchange reuse
    // never fires — the serve plan scanned the postings tree twice,
    // the inline face re-tokenized the whole corpus). The window
    // shuffles only the candidate rows once by term — and where tf
    // already ends in a term-keyed exchange (the stored-index serve
    // repartitions by term for its dedup), it rides that exchange for
    // free. df values are identical by construction: count of tf rows
    // per term.
    val withDf = tf.withColumn("df",
      count(lit(1)).over(Window.partitionBy(col("term"))))
    // ONE identical IEEE expression in both engines, floored to µ
    // BEFORE the per-doc sum (cross-row float addition is not
    // order-stable; a BIGINT sum is).
    val termScoreMu = floor(
      log(lit(1.0) +
        (col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
        (col("tf") * lit(k1 + 1.0)) /
        (col("tf") + lit(k1) *
          (lit(1.0) - lit(b) + lit(b) *
            (col("dl") * col("n") / col("sumdl")))) *
        lit(1000000.0)).cast("long")
    val scored = withDf
      .crossJoin(broadcast(stats))
      .join(broadcast(qdf), Seq("term"))
      .withColumn("term_score_mu", termScoreMu)
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("term_score_mu")).as("score_mu"),
        count(lit(1)).as("n_terms"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score_mu").desc, col("doc_id").asc)
    scored.withColumn("_rn", row_number().over(w))
      .where(col("_rn") <= k)
      .drop("_rn")
  }

  /** Per-document top-k keywords by smoothed TF-IDF — the standard
    * corpus-metadata tagger (topical labels, routing keys, index
    * summaries for a 100 TB corpus):
    *
    *   tfidf(d, t) = tf(d, t) · ln((N + 1) / (df(t) + 1))
    *
    * floored to BIGINT micro-units; top-k per doc, score-descending,
    * ties to the lexicographically smaller term.
    *
    * Scale shape: term frequencies come from the same one-shuffle
    * postings build as BM25; document frequencies are a vocabulary-
    * sized aggregate of those postings joined back ON THE TERM KEY
    * (vocabulary outgrows broadcast at corpus scale — this stays a
    * shuffle join by design, and AQE absorbs hot-term skew); the
    * final top-k window partitions by document over already-reduced
    * posting rows, never raw tokens. */
  def tfidfTopTerms(docs: DataFrame, k: Int, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val tf = postings(docs, None, idCol, textCol)
    val dfq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n"))
    val scored = tf.join(dfq, Seq("term"))
      .crossJoin(broadcast(n))
      .withColumn("tfidf_mu", floor(
        col("tf") * log((col("n") + lit(1.0)) / (col("df") + lit(1.0))) *
          lit(1000000.0)).cast("long"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf_mu").desc, col("term").asc)
    scored.withColumn("_rn", row_number().over(w))
      .where(col("_rn") <= k)
      .select(col("doc_id"), col("term"), col("tf"), col("tfidf_mu"))
  }

  /** Single-query face of [[bm25TopKBatch]]:
    * (doc_id, score_mu, n_terms), best first. */
  def bm25TopK(docs: DataFrame, query: String, k: Int,
      k1: Double = 1.2, b: Double = 0.75,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    bm25TopKBatch(docs, Seq((0L, query)), k, k1, b, idCol, textCol)
      .drop("query_id")
      .orderBy(col("score_mu").desc, col("doc_id").asc)

  /** Hybrid lexical + vector retrieval with reciprocal-rank fusion
    * (Cormack, Clarke & Büttcher, SIGIR 2009): fuse the BM25 top-kCand
    * and the cosine top-kCand by rank — rrf(d) = Σ 1/(kRrf + rank_d) —
    * the standard recipe for combining keyword and embedding search
    * without comparing their incomparable score scales. `query` is the
    * lexical face; `queryVecId` names the query's vector in `emb`
    * (the vector side excludes the query vector itself, as
    * [[Similarity.bruteForceTopK]] does).
    *
    * Cross-engine exactness: both input ranks are over already-exact
    * orderings (BIGINT BM25 micro-units; cosine rounded to 6 dp before
    * ranking — each verified by its own oracle), and each RRF term is
    * the pure integer division 1000000 div (kRrf + rank), so the fused
    * score is an exact BIGINT sum of exact BIGINTs.
    *
    * Scale shape: both arms end at kCand candidate rows, so the rank
    * windows and the full-outer fusion join run over ≤ 2·kCand narrow
    * rows (driver-light, broadcast-size) — the heavy work is the two
    * arms, each already shaped for scale. A missing arm contributes 0,
    * so lexical-only and vector-only hits still fuse. */
  def hybridTopK(docs: DataFrame, emb: DataFrame, query: String,
      queryVecId: Long, k: Int, kCand: Int = 50, kRrf: Int = 60,
      idCol: String = "doc_id", textCol: String = "text",
      vecIdCol: String = "vec_id", vecCol: String = "embedding")
      : DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    // the fused pool holds up to 2*kCand docs, so k may exceed kCand
    require(kCand >= 1, s"kCand must be >= 1: $kCand")
    require(kRrf >= 1, s"kRrf must be >= 1: $kRrf")
    val vec = Similarity.bruteForceTopK(emb, queryVecId, kCand,
      vecIdCol, vecCol)
    // the lex arm takes the BATCH face, not the sorted single-query
    // face: rrfFuse ranks with its own window, so the public face's
    // final orderBy would be a wasted range exchange + sort
    val lex = bm25TopKBatch(docs, Seq((0L, query)), kCand,
        idCol = idCol, textCol = textCol)
      .drop("query_id")
    rrfFuse(lex,
      vec.select(col(vecIdCol).as("doc_id"), col("cos_sim")),
      k, kRrf)
  }

  /** The reciprocal-rank fusion tail over the two candidate lists —
    * ONE copy shared by [[hybridTopK]] (inline arms) and
    * [[hybridTopKFromIndex]] (stored-index arms), so the fusion
    * arithmetic can never fork. `lex` carries (doc_id, score_mu);
    * `vecCand` carries (doc_id, cos_sim); both already exact-ordered
    * candidate lists ≤ kCand rows. */
  private def rrfFuse(lex: DataFrame, vecCand: DataFrame, k: Int,
      kRrf: Int): DataFrame = {
    // both arms are ≤ kCand rows by contract — coalesce(1) gives the
    // global rank windows and the fusion join SinglePartition
    // children, so NEITHER plans an exchange (SinglePartition
    // satisfies every required distribution): the whole fusion tail
    // fuses into the arms' final stages instead of spending 3-4
    // scheduler round trips on 100-row shuffles
    val lexRanked = lex.coalesce(1)
      .withColumn("lex_rank", row_number().over(
        Window.orderBy(col("score_mu").desc, col("doc_id").asc))
        .cast("long"))
      .select(col("doc_id"), col("lex_rank"))
    val vecRanked = vecCand.coalesce(1)
      .withColumn("vec_rank", row_number().over(
        Window.orderBy(col("cos_sim").desc, col("doc_id").asc))
        .cast("long"))
      .select(col("doc_id"), col("vec_rank"))
    lexRanked.join(vecRanked, Seq("doc_id"), "full_outer")
      .withColumn("rrf_mu",
        coalesce(expr(s"1000000L div (${kRrf}L + lex_rank)"), lit(0L)) +
          coalesce(expr(s"1000000L div (${kRrf}L + vec_rank)"), lit(0L)))
      .orderBy(col("rrf_mu").desc, col("doc_id").asc)
      .limit(k)
  }

  /** Hybrid retrieval served ENTIRELY from persisted indexes — the
    * 100 TB serving shape: the lexical arm reads only the
    * [[writeBm25Index]] layout (bucket-pruned postings + the stats
    * partials), the vector arm only the [[Similarity.writeIvfIndex]]
    * layout (probe-pruned cell partitions), and the fusion runs over
    * ≤ 2·kCand candidate rows — corpus text and raw embedding tables
    * are never scanned (spec-gated). Takes the serving-shape inputs
    * (a query string + an explicit query vector); `nprobe = kCells`
    * makes the vector arm exhaustive over the index, which is the
    * configuration spec-pinned ≡ [[hybridTopK]] for corpus queries
    * (the inline face excludes the query's own corpus row — build the
    * index without it for exact parity). */
  def hybridTopKFromIndex(spark: org.apache.spark.sql.SparkSession,
      bm25Dir: String, ivfDir: String, query: String,
      queryVec: Seq[Float], k: Int, kCand: Int = 50, kRrf: Int = 60,
      nprobe: Int = 1): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    require(kCand >= 1, s"kCand must be >= 1: $kCand")
    require(kRrf >= 1, s"kRrf must be >= 1: $kRrf")
    // batch face, unsorted — rrfFuse ranks with its own window (the
    // single-query face's orderBy is a wasted range exchange here)
    val lex = bm25TopKBatchFromIndex(spark, bm25Dir,
        Seq((0L, query)), kCand)
      .drop("query_id")
    val vec = Similarity.ivfTopKFromIndex(spark, ivfDir, queryVec,
        kCand, nprobe)
      .select(col("vec_id").as("doc_id"), col("cos_sim"))
    rrfFuse(lex, vec, k, kRrf)
  }

  // --- persisted BM25 index lifecycle ------------------------------------

  /** Persist a BM25 inverted index so serving never re-tokenizes the
    * corpus — the text-retrieval analogue of
    * [[Similarity.writeIvfIndex]]'s durable-layout discipline. Layout:
    *
    *   - `dir/postings`: (term, doc_id, dl, tf) PARTITIONED BY
    *     `bucket` = hash(term) mod nBuckets and sorted by term within
    *     files — a query's term set maps to bucket DIRECTORIES
    *     (Catalyst prunes the rest before IO, the IVF cell-prune
    *     shape) and the pushed term-IN predicate prunes row groups
    *     inside them. Serve cost ∝ postings of the query's terms,
    *     never corpus size.
    *   - `dir/stats`: mergeable (batch_fp, n, sumdl) partials, one row
    *     per build/append; the serve reads `distinct()` + sum, so a
    *     replayed identical append's duplicate row collapses
    *     (batch_fp is a deterministic content fingerprint) and the
    *     normalizer needs no corpus-sized aggregate at serve time.
    *   - `dir/meta`: (nbuckets) — the partitioning contract appends
    *     must reproduce, stored so it can never silently drift.
    *
    * 100 TB shape: the postings build is [[postings]]' one shuffle;
    * the bucket write emits ~ceil(bucketBytes/targetBytesPerFile)
    * files per bucket directory ([[sizedByBucket]] — sized from the
    * input corpus bytes here, from the exact on-disk bytes at
    * [[compactBm25Index]] time), so write-task size stays bounded by
    * the target instead of growing with corpus/nBuckets. */
  def writeBm25Index(docs: DataFrame, dir: String, nBuckets: Int = 64,
      idCol: String = "doc_id", textCol: String = "text",
      targetBytesPerFile: Long = 128L << 20): Unit = {
    require(nBuckets >= 1, s"nBuckets >= 1: $nBuckets")
    val spark = docs.sparkSession
    import spark.implicits._
    Seq(nBuckets).toDF("nbuckets")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
    statsPartial(docs, idCol, textCol)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/stats")
    postingsRows(docs, nBuckets, idCol, textCol,
        estimatedFilesPerBucket(docs, nBuckets, targetBytesPerFile))
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$dir/postings")
  }

  /** Incrementally index new documents: postings rows append into
    * their term buckets under the STORED nBuckets (the quantizer-is-
    * an-input rule — a drifted bucket count would silently split a
    * term across directories and halve its df), and one stats partial
    * row lands next to the existing ones. Idempotence contract (the
    * [[Similarity.appendToIvfIndex]] discipline): a crash-retried
    * append can leave duplicate posting rows, which — unlike raw
    * vectors — CHANGE answers (rows count into df and duplicate
    * per-(doc, term) contributions); the serve path heals them with a
    * candidate-sized dropDuplicates and [[compactBm25Index]] heals the
    * stored layout. Callers must not append the same batch twice with
    * different content under the same doc ids. */
  def appendToBm25Index(newDocs: DataFrame, dir: String,
      idCol: String = "doc_id", textCol: String = "text",
      targetBytesPerFile: Long = 128L << 20): Unit = {
    val spark = newDocs.sparkSession
    // Mid-swap guard at the APPEND face's entry (the protocol rule
    // every maintenance-touched tree carries): an ABSENT postings or
    // stats tree with a surviving compact sibling is a crashed
    // [[compactBm25Index]] flip, NOT a fresh index — an unguarded
    // mode("append") would CREATE an empty tree holding only this
    // batch (served df/idf silently wrong), and the next compact's
    // cleanSiblings would then delete the parked history, the only
    // surviving copy. Heal (restore the parked original) before
    // writing; a truly absent tree with NO siblings next to a
    // readable meta is external interference and fails loudly.
    locally {
      import org.apache.hadoop.fs.Path
      import graft.util.Maint
      val root = new Path(dir)
      val fs = root.getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      def guard(name: String): Unit =
        Maint.healAtEntry(fs, new Path(root, name),
          new Path(root, s".$name-compact"),
          new Path(root, s".$name-trash"),
          "appendToBm25Index",
          live = fs.exists(new Path(root, name)),
          missingMsg = Some(s"appendToBm25Index: no $name tree " +
            s"under $dir — not a writeBm25Index layout"))
      guard("postings")
      guard("stats")
      // and a crashed [[compactBm25Buckets]] swap: a parked-absent
      // bucket dir would otherwise be RECREATED by this append's
      // write (holding only the new batch), after which the heal
      // protocol sees a live dir and never restores the parked
      // history — restore first (one exists check steady-state)
      Maint.healParkedFlat(fs, new Path(root, "postings"),
        new Path(root, ".postings-bswap"), "appendToBm25Index")
    }
    val nBuckets = storedNBuckets(spark, dir)
    statsPartial(newDocs, idCol, textCol)
      .coalesce(1).write.mode("append").parquet(s"$dir/stats")
    postingsRows(newDocs, nBuckets, idCol, textCol,
        estimatedFilesPerBucket(newDocs, nBuckets, targetBytesPerFile))
      .write.mode("append").partitionBy("bucket")
      .parquet(s"$dir/postings")
  }

  /** Compact a [[writeBm25Index]] layout after replayed appends:
    * any-copy dedup of full-row-identical duplicate postings (exact —
    * tokenization is deterministic), stats partials collapsed to one
    * summed row, both under [[graft.util.Maint]]'s whole-root flip
    * (duplicates CHANGE answers here — df counts rows — so the
    * postings tree must never expose a half-folded state).
    * Single-writer: no concurrent appends (a pre-compact append's
    * replay arriving after the fold would re-add its stats row with
    * nothing left to collapse it against). */
  def compactBm25Index(spark: org.apache.spark.sql.SparkSession,
      dir: String, targetBytesPerFile: Long = 128L << 20): Unit = {
    import org.apache.hadoop.fs.Path
    import graft.util.Maint
    val live = new Path(s"$dir/postings")
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(s"$dir/.postings-compact")
    val trash = new Path(s"$dir/.postings-trash")
    // two sub-verbs so the crash matrix injects into EACH flip's
    // windows independently (shared-name steps would shadow the
    // second flip's points behind the first's)
    Maint.healAtEntry(fs, live, tmp, trash, "compactBm25Postings",
      live = fs.exists(live),
      missingMsg = Some(s"compactBm25Index: no postings tree at $live"))
    Maint.cleanSiblings(fs, tmp, trash, "compactBm25Postings")
    // per-bucket EXACT output sizing from the live bucket dirs' bytes
    // (the r19 sized-fold rule — an unsized repartition(bucket) put a
    // bucket's whole postings in ONE task, and write-task size grew
    // unbounded with corpus/nBuckets); skewed buckets (a stop-word's
    // postings) get proportionally more files
    val nBuckets = storedNBuckets(spark, dir)
    val fpb = Array.fill[Long](nBuckets)(1L)
    for (d <- fs.listStatus(live) if d.isDirectory;
         name = d.getPath.getName if name.startsWith("bucket=")) {
      val b = name.stripPrefix("bucket=").toInt
      if (b >= 0 && b < nBuckets)
        fpb(b) = Maint.sizedFileCount(
          Maint.parquetBytes(fs, Seq(d.getPath)), targetBytesPerFile)
          .toLong
    }
    sizedByBucket(
        spark.read.parquet(live.toString)
          .dropDuplicates("term", "doc_id"),
        fpb)
      .write.partitionBy("bucket").parquet(tmp.toString)
    Maint.flipNow(fs, live, tmp, trash, "compactBm25Postings")
    foldStats(spark, dir)
  }

  /** Fold the stats partial rows to ONE exact row under the whole-
    * root flip (its own heal-at-entry — a crash between the stats
    * flip's renames must restore the stranded original, never clean
    * it away; distinct first — replayed appends wrote identical rows,
    * and folding them un-collapsed would double-count). Shared tail
    * of [[compactBm25Index]] and [[compactBm25Buckets]]. */
  private def foldStats(spark: org.apache.spark.sql.SparkSession,
      dir: String): Unit = {
    import org.apache.hadoop.fs.Path
    import graft.util.Maint
    val fs = new Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val sLive = new Path(s"$dir/stats")
    val sTmp = new Path(s"$dir/.stats-compact")
    val sTrash = new Path(s"$dir/.stats-trash")
    Maint.healAtEntry(fs, sLive, sTmp, sTrash, "compactBm25Stats",
      live = fs.exists(sLive),
      missingMsg = Some(s"compactBm25Index: no stats tree at $sLive"))
    Maint.cleanSiblings(fs, sTmp, sTrash, "compactBm25Stats")
    spark.read.parquet(sLive.toString).distinct()
      .agg(min(col("batch_fp")).as("batch_fp"), sum(col("n")).as("n"),
        sum(col("sumdl")).as("sumdl"))
      .select(col("batch_fp"), col("n"), col("sumdl"))
      .coalesce(1).write.parquet(sTmp.toString)
    Maint.flipNow(fs, sLive, sTmp, sTrash, "compactBm25Stats")
    ()
  }

  /** INCREMENTAL postings fold — [[compactBm25Index]]'s cost is
    * O(index) per fold (the whole live tree rewrites under one flip);
    * this verb folds ONLY buckets whose part-file count exceeds
    * `maxPartFiles` (every append adds >= 1 file per touched bucket,
    * so the file count is exactly the accumulated-appends signal),
    * making fold cost proportional to the TOUCHED buckets, never the
    * index. Returns the folded bucket ids.
    *
    * Soundness of the finer protocol: a term maps to exactly one
    * bucket, so (term, doc_id) duplicates can never straddle buckets
    * — each bucket dir rewrites to its own deduped rows and swaps in
    * ATOMICALLY under the park protocol ([[Maint.swapPartitionDir]]
    * per dir, originals parked under `.postings-bswap` until the
    * commit delete). Any crash prefix leaves every bucket either
    * original (duplicates present — healed at serve by the
    * candidate-sized dropDuplicates, exactly the append-replay
    * state) or deduped; a bucket parked-but-not-promoted is restored
    * by [[Maint.healParkedFlat]] at this verb's, the append face's
    * AND the serve face's entry — a read can never silently miss a
    * parked bucket's postings (the whole-root flip fails LOUD in its
    * crash window via the absent root; per-bucket must match that
    * bar). The whole-root fold remains [[compactBm25Index]] — use it
    * when most buckets are touched. Single-writer, like every
    * compaction here. Stats partials fold (to one row, whole-root
    * flip) when their file count exceeds the same threshold. */
  def compactBm25Buckets(spark: org.apache.spark.sql.SparkSession,
      dir: String, targetBytesPerFile: Long = 128L << 20,
      maxPartFiles: Int = 4): Seq[Int] = {
    import org.apache.hadoop.fs.Path
    import graft.util.Maint
    require(maxPartFiles >= 1, s"maxPartFiles >= 1: $maxPartFiles")
    val verb = "compactBm25Buckets"
    val live = new Path(s"$dir/postings")
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(s"$dir/.postings-bfold")
    val trash = new Path(s"$dir/.postings-bswap")
    // a crashed WHOLE-ROOT compact owns the tree first (absent live +
    // its sibling); then heal any of this verb's own parked buckets;
    // a leftover tmp with no trash is a pre-swap crash — disposable
    Maint.healAtEntry(fs, live, new Path(s"$dir/.postings-compact"),
      new Path(s"$dir/.postings-trash"), verb,
      live = fs.exists(live),
      missingMsg = Some(s"compactBm25Buckets: no postings tree at $live"))
    Maint.healParkedFlat(fs, live, trash, verb)
    fs.delete(tmp, true)
    Maint.step(verb, "cleaned")
    val nBuckets = storedNBuckets(spark, dir)
    // touched buckets + their exact on-disk bytes, one listing pass
    val fpb = Array.fill[Long](nBuckets)(1L)
    val touched = scala.collection.mutable.ArrayBuffer[Int]()
    val touchedDirs = scala.collection.mutable.ArrayBuffer[String]()
    for (d <- fs.listStatus(live) if d.isDirectory;
         name = d.getPath.getName if name.startsWith("bucket=")) {
      val b = name.stripPrefix("bucket=").toInt
      val files = fs.listStatus(d.getPath).filter { s =>
        val n = s.getPath.getName
        s.isFile && n.endsWith(".parquet") && !n.startsWith(".") &&
          !n.startsWith("_")
      }
      if (b >= 0 && b < nBuckets && files.length > maxPartFiles) {
        touched += b
        touchedDirs += d.getPath.toString
        fpb(b) = Maint.sizedFileCount(files.map(_.getLen).sum,
          targetBytesPerFile).toLong
      }
    }
    if (touched.nonEmpty) {
      // ONE job over the touched dirs only — enumerated explicitly
      // under basePath so listing AND read stay O(touched), with the
      // bucket-isin kept on top as the semantic contract
      sizedByBucket(
          spark.read.option("basePath", live.toString)
            .parquet(touchedDirs.toSeq: _*)
            .where(col("bucket").isin(touched.map(b => b: Any).toSeq: _*))
            .dropDuplicates("term", "doc_id"),
          fpb)
        .write.partitionBy("bucket").parquet(tmp.toString)
      Maint.step(verb, "built")
      for (b <- touched) {
        val name = s"bucket=$b"
        Maint.swapPartitionDir(fs, new Path(live, name),
          new Path(tmp, name), new Path(trash, name), verb)
      }
      Maint.step(verb, "buckets-swapped")
      fs.delete(trash, true)
      fs.delete(tmp, true)
      Maint.step(verb, "committed")
    }
    // stats partials: fold when the file count exceeds the threshold
    val sLive = new Path(s"$dir/stats")
    val statsFiles =
      if (!fs.exists(sLive)) 0
      else fs.listStatus(sLive).count { s =>
        val n = s.getPath.getName
        s.isFile && n.endsWith(".parquet") && !n.startsWith(".") &&
          !n.startsWith("_")
      }
    if (statsFiles > maxPartFiles) foldStats(spark, dir)
    touched.toSeq
  }

  /** Serve a query batch from a [[writeBm25Index]] layout — identical
    * results to [[bm25TopKBatch]] over the indexed corpus at every k
    * (spec-pinned; the scoring tail is literally shared). The plan
    * reads ONLY the index: bucket partition pruning + pushed term-IN
    * on the postings, a one-row broadcast from the stats partials —
    * corpus text is never scanned or re-tokenized (spec-gated). */
  def bm25TopKBatchFromIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, queries: Seq[(Long, String)], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val (qdf, allTerms) = queryTermsDf(spark, queries)
    locally {
      // self-heal a crashed [[compactBm25Buckets]] swap before
      // reading: a parked-absent bucket dir would silently serve
      // FEWER postings (the whole-root flip's crash state fails loud
      // via the absent root; the per-bucket protocol must match that
      // bar). Steady-state cost: one exists() on the trash sibling.
      import org.apache.hadoop.fs.Path
      val root = new Path(dir)
      val fs = root.getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      graft.util.Maint.healParkedFlat(fs, new Path(root, "postings"),
        new Path(root, ".postings-bswap"), "bm25Serve")
    }
    val nBuckets = storedNBuckets(spark, dir)
    // the terms' bucket set, derived with the SAME engine function
    // that placed them — XxHash64Function IS what codegen emits for
    // xxhash64(string) (seed 42), called driver-side over |terms|
    // local strings instead of spending a Spark job on a one-row
    // distinct+collect per serve (spec-pinned ≡ the engine column)
    val buckets = allTerms
      .map(t => bucketOfTerm(t, nBuckets)).distinct.sorted
      .map(b => b: Any)
    val tf = spark.read.parquet(s"$dir/postings")
      .where(col("bucket").isin(buckets: _*))
      .where(col("term").isin(allTerms: _*))
      // one term-keyed exchange feeds BOTH the dedup below and
      // bm25Rank's df window (hashpartitioning(term) satisfies the
      // dedup's (term, doc_id) clustering — the packSequences
      // exchange-reuse discipline)
      .repartition(col("term"))
      // heal replayed-append duplicates (bit-identical rows) at
      // candidate size — |docs with a query term|, never the corpus
      .dropDuplicates("term", "doc_id")
      .select(col("term"), col("doc_id"), col("dl"), col("tf"))
    // the corpus normalizer is a control-plane fold of the stats
    // partials (one row per build/append — duplicates collapsed by
    // the same distinct the in-plan version ran). Fingerprint-cached
    // and re-planned as a one-row LocalRelation: the in-plan subtree
    // cost a scan + distinct exchange + agg + broadcast build (~3
    // scheduler round trips) per serve for ONE row; any append or
    // compact rewrites the stats dir and misses the cache.
    val statsDir = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(dir), "stats")
    val sfs = statsDir.getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val (nTot, sumdlTot) =
      graft.util.ControlCache.cached(sfs, statsDir, "bm25.stats") {
        val r = spark.read.parquet(statsDir.toString).distinct()
          .agg(sum(col("n")).as("n"), sum(col("sumdl")).as("sumdl"))
          .head()
        (r.getLong(0), r.getLong(1))
      }
    import spark.implicits._
    val stats = Seq((nTot, sumdlTot)).toDF("n", "sumdl")
    bm25Rank(tf, stats, qdf, k, k1, b)
  }

  /** Single-query face of [[bm25TopKBatchFromIndex]] —
    * [[bm25TopK]]'s shape over the stored index. */
  def bm25TopKFromIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, query: String, k: Int, k1: Double = 1.2,
      b: Double = 0.75): DataFrame =
    bm25TopKBatchFromIndex(spark, dir, Seq((0L, query)), k, k1, b)
      .drop("query_id")
      .orderBy(col("score_mu").desc, col("doc_id").asc)

  /** The on-disk posting rows: [[postings]] over the full vocabulary
    * plus the term's bucket, clustered (bucket, term) via
    * [[sizedByBucket]] so no write task rewrites a whole bucket's
    * postings. */
  private def postingsRows(docs: DataFrame, nBuckets: Int,
      idCol: String, textCol: String,
      filesPerBucket: Array[Long]): DataFrame =
    sizedByBucket(
      postings(docs, None, idCol, textCol)
        .withColumn("bucket",
          pmod(xxhash64(col("term")), lit(nBuckets.toLong))),
      filesPerBucket)

  /** Cluster posting rows into per-bucket sized write slots: terms
    * hash into `filesPerBucket(bucket)` salt slots within their
    * bucket, so the partitionBy("bucket") write emits
    * ~ceil(bucketBytes/target) files per bucket directory
    * ([[graft.util.Maint.sizedFileCount]] WITHIN bucket — the r19
    * sized-fold discipline) and write-task size stays bounded by the
    * target instead of growing with corpus/nBuckets. The degenerate
    * all-ones map keeps the unsized one-file-per-bucket shape (and
    * lets AQE coalesce tiny toy buckets into shared tasks). Hash
    * placement, not range: no sampling pass over the (expensive at
    * build time) child, and the within-file (bucket, term) sort keeps
    * the pushed term-IN row-group prune either way. */
  private def sizedByBucket(rows: DataFrame,
      filesPerBucket: Array[Long]): DataFrame = {
    if (filesPerBucket.forall(_ == 1L))
      rows.repartition(col("bucket"))
        .sortWithinPartitions(col("bucket"), col("term"))
    else {
      val total = filesPerBucket.sum
        .min(Int.MaxValue.toLong).max(1L).toInt
      rows.withColumn("_slot",
          pmod(xxhash64(col("term")),
            element_at(lit(filesPerBucket),
              col("bucket").cast("int") + lit(1))))
        .repartition(total, col("bucket"), col("_slot"))
        .sortWithinPartitions(col("bucket"), col("term"))
        .drop("_slot")
    }
  }

  /** Per-bucket output sizing for a FRESH postings write, where no
    * on-disk postings bytes exist yet: estimate from the input
    * corpus' file bytes (postings parquet is at most text-scale —
    * terms dictionary-encode — so this over-estimates toward more,
    * smaller files, the safe direction), hash-uniform across buckets.
    * In-memory frames (no input files) size to one file per bucket —
    * the toy shape. */
  private def estimatedFilesPerBucket(docs: DataFrame, nBuckets: Int,
      targetBytesPerFile: Long): Array[Long] = {
    import org.apache.hadoop.fs.Path
    val bytes =
      try {
        val conf = docs.sparkSession.sparkContext.hadoopConfiguration
        docs.inputFiles.map { f =>
          val p = new Path(f)
          p.getFileSystem(conf).getFileStatus(p).getLen
        }.sum
      } catch { case scala.util.control.NonFatal(_) => 0L }
    Array.fill(nBuckets)(graft.util.Maint.sizedFileCount(
      bytes / math.max(nBuckets, 1), targetBytesPerFile).toLong)
  }

  /** A term's bucket id, computed DRIVER-SIDE with the identical
    * function whole-stage codegen emits for
    * `pmod(xxhash64(term), nBuckets)` — XxHash64Function over the
    * term's UTF-8 bytes at seed 42, then floorMod (the
    * mirror-SPARK's-semantics rule; spec-pinned against the engine
    * column over a fuzz set). Control-plane: turns the per-serve
    * bucket derivation from a Spark job into local arithmetic. */
  private[graft] def bucketOfTerm(term: String, nBuckets: Int): Long = {
    val h = org.apache.spark.sql.catalyst.expressions.XxHash64Function
      .hash(org.apache.spark.unsafe.types.UTF8String.fromString(term),
        org.apache.spark.sql.types.StringType, 42L)
    java.lang.Math.floorMod(h, nBuckets.toLong)
  }

  /** The stored bucket count off `dir/meta`, fingerprint-cached
    * ([[graft.util.ControlCache]]): a frozen layout constant that
    * otherwise costs a one-row Spark job per serve/append. */
  private def storedNBuckets(
      spark: org.apache.spark.sql.SparkSession, dir: String): Int = {
    import org.apache.hadoop.fs.Path
    val meta = new Path(new Path(dir), "meta")
    val fs = meta.getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.util.ControlCache.cached(fs, meta, "bm25.meta") {
      spark.read.parquet(meta.toString).head().getInt(0)
    }
  }

  /** One mergeable stats partial: doc count, total token length, and
    * a deterministic content fingerprint (order-free XOR fold of the
    * per-doc id hashes — bit_xor can never overflow where an ANSI
    * long sum of ~2^63 hashes aborts the job) — the identity that
    * lets the serve-time `distinct()` collapse a replayed append's
    * identical row. */
  private def statsPartial(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs.select(col(idCol).cast("string").as("_id"),
        size(TextOps.tokens(lower(col(textCol)))).cast("long").as("dl"))
      .agg(expr("bit_xor(xxhash64(_id))").as("batch_fp"),
        count(lit(1)).as("n"), sum(col("dl")).as("sumdl"))
}
