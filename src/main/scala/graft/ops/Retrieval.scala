package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Retrieval-side operators for a training-data / RAG pipeline: sliding
 * token-window chunking and BM25 lexical top-k search.
 *
 * Both are designed 100 TB-first:
 *  - [[chunk]] is a pure narrow pass (project + explode) — zero shuffle,
 *    chunk identity is a deterministic function of (doc, offset), so a
 *    re-run on any cluster size produces identical chunk ids.
 *  - [[bm25TopK]] scores ONLY documents containing at least one query
 *    term (the candidate set after an early broadcast-filter on the
 *    exploded token stream — the inverted-index access path expressed
 *    declaratively), aggregates per-term partials map-side, and takes
 *    each query's top-k through TakeOrderedAndProject (per-partition
 *    heap + driver merge of k·P rows) — no global sort, no single-task
 *    window funnel on a hot query id.
 *
 * Scoring reproducibility: BM25 needs ln(), and libm last-ulp
 * differences across engines would break hash-exact comparison, so
 * per-term scores are rounded (idf to 7 decimals, the term product to
 * 6) and summed as DECIMAL(18,6) — order-free exact — before the final
 * cast back to double. The DuckDB oracle mirrors the exact expression
 * shape, so every IEEE operation sees identical operands in identical
 * order.
 */
object Retrieval {

  /** Expected distinct terms per bucket, sizing the `term` bloom in
    * every postings write (save, append and compaction). */
  private val DefaultTermNdv = 1L << 17

  // Written-layout schemas, pinned so the index metadata reads skip
  // parquet schema inference: every bare `spark.read.parquet` runs one
  // driver footer-reading job before anything else, and a lifecycle
  // gate (save → tombstone → probe → compact → probe) pays that job a
  // dozen times over (profiled: 13 of q_bm25_forget's 66 driver jobs
  // were schema inference). The postings/doclens tables keep inferred
  // reads — their id column's name and type are caller-data-dependent.
  // An explicit-schema read of a MISSING path still throws (the
  // atomicSwap crash-recovery loudness contract), and a valid-empty
  // dir reads as zero rows, which is exactly the synthesized-empty
  // frame the inference path had to build by hand.
  private val StatsSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("n_docs",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("sum_dl",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("n_buckets",
      org.apache.spark.sql.types.IntegerType)))
  private val TermsSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("term",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("df",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("bucket",
      org.apache.spark.sql.types.IntegerType)))

  /**
   * Sliding-window token chunking (the RAG ingestion shape): one output
   * row per (document, window start), windows starting every `stride`
   * tokens and spanning up to `chunkSize` tokens. Blank documents yield
   * no chunks; a final partial window is emitted (standard for
   * retrieval — the tail of the document stays indexable).
   *
   * Columns: idCol, chunk_id = start/stride, start_tok, n_chunk_toks,
   * chunk_text (space-rejoined, whitespace-normalized like
   * [[TextAnalysis.tokens]]).
   */
  def chunk(df: DataFrame, idCol: String, textCol: String,
            chunkSize: Int, stride: Int): DataFrame = {
    require(chunkSize > 0 && stride > 0, "chunkSize and stride must be positive")
    val toks = TextAnalysis.tokens(col(textCol))
    val n = TextAnalysis.tokenCount(col(textCol))
    df.select(col(idCol), toks.as("_toks"), n.as("_n"))
      .filter(col("_n") > 0)
      .select(col(idCol), col("_toks"),
        explode(sequence(lit(0), col("_n") - 1, lit(stride))).as("_start"))
      .select(
        col(idCol),
        (col("_start") / stride).cast("long").as("chunk_id"),
        col("_start").cast("long").as("start_tok"),
        size(slice(col("_toks"), col("_start") + 1, lit(chunkSize)))
          .cast("long").as("n_chunk_toks"),
        array_join(slice(col("_toks"), col("_start") + 1, lit(chunkSize)), " ")
          .as("chunk_text"))
  }

  /**
   * Sentence-aligned chunking — the boundary-respecting sibling of
   * [[chunk]] for RAG ingestion where windows must never cut a
   * sentence: sentences (split after `.`/`!`/`?` + whitespace) pack
   * into budget-aligned chunks, `chunk_id = ⌊chars-before / budget⌋`
   * over the per-document cumulative sentence lengths. The closed form
   * (vs a greedy reset, which is inherently sequential) is what makes
   * the operator ONE keyed window + one aggregate — scalable and
   * deterministic at any layout: a chunk ends at the first sentence
   * crossing its budget boundary, so a chunk may overshoot `budget` by
   * at most one sentence, and a sentence longer than the budget owns
   * its chunk (following ids may skip — ids are stable, not dense).
   *
   * The sentence split is RE2-safe (mark `([.!?])\s+` with a 
   * delimiter, then split — no lookbehind), so the DuckDB oracle can
   * reproduce it literally. Abbreviation dots ("e.g. x") split like
   * any sentence end — documented simplification, the standard
   * fast-path behavior.
   *
   * Output: (idCol, chunk_id, n_sents, n_chars, chunk_text).
   */
  def sentenceChunks(df: DataFrame, idCol: String, textCol: String,
                     budget: Int): DataFrame = {
    require(budget > 0, s"budget must be positive: $budget")
    import org.apache.spark.sql.expressions.Window
    val marked = regexp_replace(trim(col(textCol)),
      "([.!?])\\s+", "$1\u0001")
    val sents = df
      .select(col(idCol), posexplode(split(marked, "\u0001"))
        .as(Seq("pos", "sent")))
      .filter(trim(col("sent")) =!= "")
    val w = Window.partitionBy(col(idCol)).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, -1)
    sents
      .select(col(idCol), col("pos"), col("sent"),
        coalesce(sum(length(col("sent"))).over(w), lit(0L)).as("__before"))
      .select(col(idCol), col("pos"), col("sent"),
        // integer floor division (same arithmetic as DuckDB `//`) — a
        // double divide could land a budget-boundary sentence one
        // chunk off at large offsets
        expr(s"`__before` div ${budget}L").as("chunk_id"))
      .groupBy(col(idCol), col("chunk_id"))
      .agg(count(lit(1)).as("n_sents"),
        sum(length(col("sent"))).as("n_chars"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("pos"), col("sent")))),
          x => x.getField("sent"))).as("chunk_text"))
  }

  /**
   * BM25 top-k search of a small query set against a document corpus.
   *
   * `queries` is driver-local (a search workload, not data-scale) and is
   * broadcast into the candidate filter. Uses the BM25+-style
   * always-positive idf = ln(1 + (N - df + 0.5)/(df + 0.5)); distinct
   * query terms (duplicate terms in a query string score once).
   *
   * Output: qid, doc_id (named after idCol), score (double) — the top k
   * candidates per query by (score desc, doc_id asc).
   *
   * Cache contract: the returned plan reads a persisted candidate-score
   * DataFrame that must outlive this call. Long-lived sessions issuing
   * many searches should call [[releaseCaches]] between searches (after
   * consuming the previous result) — otherwise the entries stay cached
   * until `catalog.clearCache()` or application end.
   */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
               queries: Seq[(Long, String)], k: Int,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queries.nonEmpty && k > 0)
    val spark = docs.sparkSession

    // tokenize ONCE: the stats aggregate below materializes this cache,
    // and the tf path re-reads it instead of re-scanning + re-splitting
    // the corpus (released before return, once `scored` is materialized)
    val base = docs.select(col(idCol),
      TextAnalysis.tokens(col(textCol)).as("_toks"),
      TextAnalysis.tokenCount(col(textCol)).cast("long").as("dl"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // corpus stats: two scalars, driver-bounded by construction
    val Array(nDocs, sumDl) = base
      .agg(count(lit(1)), coalesce(sum(col("dl")), lit(0L)))
      .head().toSeq.map(_.asInstanceOf[Long].toDouble).toArray
    val avgdl = sumDl / nDocs

    val qTerms = splitQueryTerms(queries)
    val termSet = qTerms.map(_._2).distinct

    // inverted-index access path: explode → keep only query terms → tf.
    // The isin filter is evaluated inside the scan's codegen stage, so
    // non-matching tokens never reach the shuffle.
    val tf = base
      .select(col(idCol), col("dl"), explode(col("_toks")).as("term"))
      .filter(col("term").isin(termSet: _*))
      .groupBy(col(idCol), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))

    // document frequency per term — tiny (≤ |terms| rows), broadcast back
    val dfPerTerm = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))

    val out = scoreTopK(tf, dfPerTerm, qTerms,
      queries.map(_._1).distinct, nDocs, avgdl, idCol, k, k1, b)
    base.unpersist()
    out
  }

  private def splitQueryTerms(
      queries: Seq[(Long, String)]): Seq[(Long, String)] =
    queries.flatMap { case (qid, q) =>
      q.trim.toLowerCase.split("\\s+").filter(_.nonEmpty).distinct
        .map(t => (qid, t))
    }

  /**
   * Persist a BM25 inverted index as a STORAGE LAYOUT — the lexical
   * sibling of [[graft.ops.Similarity.saveIvfPqIndex]]: tokenize the
   * corpus ONCE, then search any number of query workloads without
   * re-reading or re-tokenizing 100 TB of text.
   *
   * Terms are too many to hive-partition individually, so postings
   * hash into `nBuckets` term buckets (`<path>/postings/bucket=N/…`):
   * a query's terms map to at most |terms| buckets, and the bucket
   * filter prunes INPUT SPLITS — unprobed buckets' files are never
   * opened. Within a bucket's files a parquet bloom filter on `term`
   * skips row groups the pushed `term IN (…)` can't match (the
   * [[Layout.bloomFilterWrite]] face — min/max stats are useless on a
   * hash-ordered term column). Beside the postings:
   * `<path>/terms/bucket=N` holds per-term document frequencies
   * (pruned the same way at query time) and `<path>/stats` the two
   * corpus scalars + the bucket count, making the layout
   * self-describing.
   *
   * Postings carry (term, id, tf, dl) — dl denormalized per posting
   * so scoring never joins a doc-lengths table.
   */
  def saveBm25Index(docs: DataFrame, idCol: String, textCol: String,
                    path: String, nBuckets: Int = 64,
                    termNdvPerBucket: Long = DefaultTermNdv): Unit = {
    require(nBuckets >= 1, s"nBuckets must be >= 1: $nBuckets")
    IndexLayout.requireIntegralId(docs, idCol, "saveBm25Index")
    val spark = docs.sparkSession
    import spark.implicits._
    val base = docs.select(col(idCol),
      TextAnalysis.tokens(col(textCol)).as("_toks"),
      TextAnalysis.tokenCount(col(textCol)).cast("long").as("dl"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val postings = base
      .select(col(idCol), col("dl"), explode(col("_toks")).as("term"))
      .groupBy(col(idCol), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .withColumn("bucket", pmod(xxhash64(col("term")), lit(nBuckets.toLong)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    postings.repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("bucket")
      .option("parquet.bloom.filter.enabled#term", "true")
      .option("parquet.bloom.filter.expected.ndv#term",
        termNdvPerBucket.toString)
      .parquet(s"$path/postings")
    // df per term from the SAME persisted postings frame the writer
    // just materialized — identical content to re-reading the written
    // files (deterministic aggregate of the same rows), minus a full
    // parquet read per save
    postings
      .groupBy(col("term"), col("bucket"))
      .agg(count(lit(1)).as("df"))
      .repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$path/terms")
    base.agg(count(lit(1)).as("n_docs"),
      coalesce(sum(col("dl")), lit(0L)).as("sum_dl"),
      lit(nBuckets).as("n_buckets"))
      .repartition(1).write.mode("overwrite").parquet(s"$path/stats")
    // one (id, dl) row per doc — queries never read it; it is what
    // lets compaction recompute n_docs/sum_dl EXACTLY on the
    // purged corpus (a zero-token doc has no postings row, so corpus
    // membership is not reconstructible from postings alone)
    base.select(col(idCol), col("dl"))
      .write.mode("overwrite").parquet(s"$path/doclens")
    postings.unpersist()
    base.unpersist()
  }

  /**
   * Append a document batch to a [[saveBm25Index]] layout WITHOUT
   * re-tokenizing the corpus — the amortized shape a continuous crawl
   * needs: tokenizing 100 TB once is the index's whole point, so a
   * 0.1% daily batch must cost 0.1%, not a rebuild. Batch postings
   * hash into the SAME term buckets (bucket count read from stats, not
   * trusted from the caller) and land as new parquet files inside the
   * existing partition directories, with the same per-file bloom
   * filters; per-term document-frequency DELTAS append to `terms/`
   * (the probe sums rows per term — long sums are order-free, so
   * probing base+deltas is exactly probing a rebuild, spec-pinned
   * bit-identical); the two corpus scalars rewrite via the
   * rename-aside [[graft.ops.Layout.atomicSwap]].
   *
   * Batch ids must be new to the index — re-appending an id
   * double-counts its postings (dedup the batch upstream, e.g. with
   * [[graft.ops.TextDedup.incrementalDedup]]). Not transactional for
   * CONCURRENT probes (a probe between the postings write and the
   * stats swap scores new docs with old stats); serialize appends with
   * probes, or version the index directory, for stronger isolation.
   */
  def appendBm25Index(docs: DataFrame, idCol: String, textCol: String,
                      path: String,
                      termNdvPerBucket: Long = DefaultTermNdv): Unit = {
    val batch = Bm25Family.appendable(docs, idCol, path, "appendBm25Index")
    val spark = docs.sparkSession
    import spark.implicits._
    val (nDocs0, sumDl0, nBuckets) = spark.read.schema(StatsSchema)
      .parquet(s"$path/stats")
      .select(col("n_docs").cast("long"), col("sum_dl").cast("long"),
        col("n_buckets").cast("int"))
      .as[(Long, Long, Int)].head()
    val base = batch.select(col(idCol),
      TextAnalysis.tokens(col(textCol)).as("_toks"),
      TextAnalysis.tokenCount(col(textCol)).cast("long").as("dl"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val postings = base
      .select(col(idCol), col("dl"), explode(col("_toks")).as("term"))
      .groupBy(col(idCol), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .withColumn("bucket", pmod(xxhash64(col("term")), lit(nBuckets.toLong)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    postings.repartition(col("bucket"))
      .write.mode("append").partitionBy("bucket")
      .option("parquet.bloom.filter.enabled#term", "true")
      .option("parquet.bloom.filter.expected.ndv#term",
        termNdvPerBucket.toString)
      .parquet(s"$path/postings")
    postings
      .groupBy(col("term"), col("bucket"))
      .agg(count(lit(1)).as("df"))
      .repartition(col("bucket"))
      .write.mode("append").partitionBy("bucket")
      .parquet(s"$path/terms")
    val (dN, dDl) = base
      .agg(count(lit(1)).as("n"), coalesce(sum(col("dl")), lit(0L)).as("s"))
      .as[(Long, Long)].head()
    // doclens BEFORE the stats swap: the swap is the append's
    // publication point, and the roster must never lag it — a crash
    // between a published stats and a missing doclens row would make
    // the next compaction recompute stats WITHOUT these docs while
    // their postings survive (compaction additionally heals any
    // missing roster rows from the postings themselves)
    base.select(col(idCol), col("dl"))
      .write.mode("append").parquet(s"$path/doclens")
    Seq((nDocs0 + dN, sumDl0 + dDl, nBuckets))
      .toDF("n_docs", "sum_dl", "n_buckets")
      .repartition(1).write.mode("overwrite").parquet(s"$path/stats.__tmp")
    Layout.atomicSwap(spark, s"$path/stats.__tmp", s"$path/stats")
    postings.unpersist()
    base.unpersist()
  }

  /**
   * The delete lifecycle of a [[saveBm25Index]] layout ([[IndexLayout]]):
   * `tombstone` drops ids from every later [[bm25TopKIndexed]] below the
   * scoring kernel, without rewriting the append-only posting files.
   * Collection statistics (df, n_docs, avgdl) keep counting a deleted
   * doc until `compact` erases it — Lucene's deleted-docs-until-merge
   * contract: scores of SURVIVING docs shift only at compaction.
   *
   * After a completed compaction the index is probe-for-probe identical
   * to a fresh [[saveBm25Index]] on the purged corpus: postings lose the
   * dead docs' rows, `terms/` is recomputed from the surviving postings
   * (collapsing append deltas AND the dead docs' df), and `stats/`
   * recomputes from the purged `doclens/` roster — doclens is what
   * keeps zero-token documents (present in n_docs, absent from
   * postings) exact through the cycle.
   */
  def bm25Index(path: String): IndexHandle = IndexHandle(Bm25Family, path)

  private val Bm25Family = new IndexLayout.Family("bm25",
    roster = "doclens", fixedCols = Set("dl", "term", "tf", "bucket"),
    swapOrder = Seq("postings", "terms", "doclens", "stats"),
    kernel = compactKernel)

  /** The postings table of a [[saveBm25Index]] layout, schema-safe
    * when the directory holds NO data files — the state a compaction
    * of a fully-tombstoned index leaves behind. The empty schema
    * derives from the `doclens/` roster plus the fixed posting columns. */
  private def postingsOrEmpty(spark: SparkSession,
                              path: String): DataFrame =
    IndexLayout.readOrEmpty(spark, s"$path/postings",
      org.apache.spark.sql.types.StructType(Seq(
        Bm25Family.rosterIdField(spark, path),
        org.apache.spark.sql.types.StructField("dl",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("term",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("tf",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("bucket",
          org.apache.spark.sql.types.IntegerType))))

  private def compactKernel(spark: SparkSession, path: String,
                            tomb: DataFrame): Boolean = {
    import spark.implicits._
    val nBuckets = spark.read.schema(StatsSchema).parquet(s"$path/stats")
      .select(col("n_buckets").cast("int")).as[Int].head()
    val postings = postingsOrEmpty(spark, path)
    val idCol = Bm25Family.idField(postings.schema).name
    // the purged postings PERSIST for the compaction: the rewrite, the
    // df recompute and the roster heal all read the same rows, and the
    // cache is exactly what the `.__compact` files hold
    val purged = IndexLayout.liveRows(postings, col(idCol), tomb)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    purged
      .repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("bucket")
      .option("parquet.bloom.filter.enabled#term", "true")
      .option("parquet.bloom.filter.expected.ndv#term",
        DefaultTermNdv.toString)
      .parquet(s"$path/postings.__compact")
    purged
      .groupBy(col("term"), col("bucket"))
      .agg(count(lit(1)).as("df"))
      .repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$path/terms.__compact")
    // the purged roster, SELF-HEALING against two append-crash shapes:
    //  - a crash that landed postings but not the doclens row (the
    //    append's narrow window): such docs are recovered from their
    //    own postings — (id, dl) is denormalized per posting row, so
    //    the distinct is exact for any doc that has at least one term;
    //  - an index saved before doclens existed: the roster derives
    //    entirely from postings (zero-token docs are then absent from
    //    n_docs/avgdl — the one population postings cannot witness,
    //    documented as the pre-doclens migration cost).
    val dlP = new org.apache.hadoop.fs.Path(s"$path/doclens")
    val dlFs = dlP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // doclens schema derives from the postings read above (same id
    // field + dl) — no second inference job
    val doclensSchema = org.apache.spark.sql.types.StructType(
      postings.schema.fields.filter(f => f.name == idCol || f.name == "dl"))
    val roster0 =
      if (dlFs.exists(dlP))
        spark.read.schema(doclensSchema).parquet(s"$path/doclens")
          .select(col(idCol), col("dl"))
      else postings.select(col(idCol), col("dl")).limit(0)
    // heal from the PURGED cache (already tombstone-free) rather than
    // re-scanning any postings dir: a roster id is excluded by the
    // anti-join, so only genuinely missing live docs are recovered
    val fromPostings = purged
      .select(col(idCol), col("dl")).distinct()
      .join(roster0.select(col(idCol)), Seq(idCol), "left_anti")
    IndexLayout.liveRows(roster0, col(idCol), tomb)
      .unionByName(fromPostings)
      .write.mode("overwrite").parquet(s"$path/doclens.__compact")
    purged.unpersist()
    spark.read.schema(doclensSchema).parquet(s"$path/doclens.__compact")
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(col("dl")), lit(0L)).as("sum_dl"),
        lit(nBuckets).as("n_buckets"))
      .repartition(1).write.mode("overwrite").parquet(s"$path/stats.__compact")
    true
  }

  /**
   * BM25 top-k over a [[saveBm25Index]] layout — bit-identical to
   * [[bm25TopK]] on the same corpus (the scoring/top-k kernel is the
   * same code; document frequencies and corpus stats were computed
   * corpus-wide at save time). Reads only the probed term buckets:
   * the bucket filter is partition pruning (files of other buckets
   * never open) and the term filter rides the parquet bloom filters
   * within them.
   */
  def bm25TopKIndexed(spark: SparkSession, path: String, idCol: String,
                      queries: Seq[(Long, String)], k: Int,
                      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queries.nonEmpty && k > 0)
    import spark.implicits._
    val stats = spark.read.schema(StatsSchema).parquet(s"$path/stats")
      .select(col("n_docs").cast("long"), col("sum_dl").cast("long"),
        col("n_buckets").cast("int"))
      .as[(Long, Long, Int)].head()
    val (nDocs, sumDl, nBuckets) = stats
    // an index whose every document was tombstoned AND compacted away
    // is a valid layout (stats say so); no query can hit, and the
    // postings dir may hold no data files at all — answer empty
    // without touching it (the idCol type comes from the doclens
    // roster, which every compaction rewrites)
    if (nDocs == 0L) {
      val idField = Bm25Family.rosterIdField(spark, path).copy(name = idCol)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("qid",
            org.apache.spark.sql.types.LongType),
          idField,
          org.apache.spark.sql.types.StructField("score",
            org.apache.spark.sql.types.DoubleType))))
    }
    val avgdl = sumDl.toDouble / nDocs
    val qTerms = splitQueryTerms(queries)
    val termSet = qTerms.map(_._2).distinct
    // bucket ids via the SAME hash expression the writer used
    // (|termSet| rows through a local plan — driver-bounded)
    val buckets = termSet.toDF("term")
      .select(pmod(xxhash64(col("term")), lit(nBuckets.toLong)))
      .as[Long].collect().distinct.sorted
    // tombstoned docs are dead to every query ([[bm25Index]]): the
    // anti-join rides on top of the already bucket/bloom-pruned scan.
    // df and the corpus scalars keep their saved values until
    // compaction — the documented soft-delete contract.
    val tf = IndexLayout.liveRows(postingsOrEmpty(spark, path)
      .filter(col("bucket").isin(buckets: _*) &&
        col("term").isin(termSet: _*)),
      col(idCol), bm25Index(path).tombstones(spark))
      .select(col(idCol), col("dl"), col("term"), col("tf"))
    // sum per term: a base save writes one df row per term, and each
    // appendBm25Index batch adds a delta row — document frequencies
    // are order-free long sums, so the aggregate makes the probe read
    // base+deltas exactly as if the index had been rebuilt. The terms
    // dir is schema-safe the same way postings is: a corpus of only
    // zero-token docs has n_docs > 0 but no postings/terms rows, and
    // a partitioned zero-row write leaves no inferable files.
    // fixed schema (TermsSchema): no inference job, and a zero-data-
    // file terms dir reads directly as the empty frame the inference
    // path had to synthesize (a missing dir still throws loudly)
    val termsDf = Layout.readParquetKnownSchema(spark, s"$path/terms",
      TermsSchema)
    val dfPerTerm = termsDf
      .filter(col("bucket").isin(buckets: _*) &&
        col("term").isin(termSet: _*))
      .groupBy(col("term")).agg(sum(col("df")).as("df"))
    scoreTopK(tf, dfPerTerm, qTerms, queries.map(_._1).distinct,
      nDocs.toDouble, avgdl, idCol, k, k1, b)
  }

  /** The ONE BM25 scoring + top-k kernel, shared by [[bm25TopK]] and
    * [[bm25TopKIndexed]] — identical expression tree on both paths, so
    * the persisted-index route is bit-identical to the direct route.
    * `tf` must carry (idCol, dl, term, tf); `dfPerTerm` (term, df). */
  private def scoreTopK(tf: DataFrame, dfPerTerm: DataFrame,
                        qTerms: Seq[(Long, String)], qids: Seq[Long],
                        nDocs: Double, avgdl: Double, idCol: String,
                        k: Int, k1: Double, b: Double): DataFrame = {
    val spark = tf.sparkSession
    import spark.implicits._
    val qt = qTerms.toDF("qid", "term")

    val idfR = round(
      log(lit(1.0) + (lit(nDocs) - col("df") + lit(0.5)) / (col("df") + lit(0.5))), 7)
    val tfNorm = (col("tf") * (k1 + 1.0)) /
      (col("tf") + lit(k1) * (lit(1.0) - b + lit(b) * col("dl") / avgdl))
    val termScore = round(idfR * tfNorm, 6).cast("decimal(18,6)")

    val scored0 = tf
      .join(broadcast(dfPerTerm), "term")
      .join(broadcast(qt), "term")
      .select(col("qid"), col(idCol), termScore.as("_s"))
      .groupBy(col("qid"), col(idCol))
      .agg(sum(col("_s")).as("_score"))
    // every per-query top-k branch below reads the candidate scores, so
    // persist them (spill-safe, bounded by the candidate set — much
    // smaller than the corpus), materialize, and release upstream.
    // The scored cache must outlive this call (the returned plan reads
    // it); it is registered for caller-driven release via releaseCaches.
    val scored =
      scored0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nCandidates = scored.count()
    liveCaches.add(scored)

    // per-query top-k, size-dispatched on the candidate count the cache
    // materialization just measured (the SkewJoin.saltedAuto idiom —
    // the bound, not the call site, carries the scale contract):
    //  - SMALL candidate sets (the searched-workload shape: every gate,
    //    and any probe whose terms are selective) take ONE
    //    qid-partitioned row_number window — a single exchange and a
    //    single AQE stage-job. The per-qid branches each compiled to
    //    their own single-partition TakeOrdered mini-exchange, i.e. one
    //    driver stage-job PER QUERY per probe; at a 10-query workload
    //    the index-lifecycle gates spent more driver gaps on top-k
    //    branches than on scoring (q_bm25_forget: 63 jobs total).
    //    row_number over (score desc, id asc) <= k selects exactly the
    //    rows orderBy(...).limit(k) selects — identical tie-break, so
    //    the output set is unchanged.
    //  - LARGE candidate sets keep the branch shape: a window partition
    //    cannot be split, and at corpus scale one common term can make
    //    a single qid's candidate set arbitrarily large, while the
    //    TakeOrderedAndProject branches stay per-partition heaps.
    // Distinct qids: a caller-repeated qid already merged its terms in
    // `scored`; duplicated branches would duplicate its output rows.
    val topK =
      if (nCandidates <= WindowTopKRowBound) {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("qid"))
          .orderBy(col("_score").desc, col(idCol).asc)
        scored.withColumn("__rk", row_number().over(w))
          .filter(col("__rk") <= k)
      } else {
        qids.map { qid =>
          scored.filter(col("qid") === qid)
            .orderBy(col("_score").desc, col(idCol).asc)
            .limit(k)
        }.reduce(_.unionAll(_))
      }
    topK
      .select(col("qid"), col(idCol), col("_score").cast("double").as("score"))
  }

  /** Candidate-row count at or below which the per-query top-k runs as
    * ONE qid-partitioned window instead of per-qid TakeOrdered
    * branches: the whole candidate set fits one task's sort comfortably
    * (the [[graft.operators.SkewJoin.BroadcastRowBound]] sizing
    * convention), so the window's unsplittable-partition risk is
    * bounded away; above it the branch shape engages unchanged. */
  val WindowTopKRowBound: Long = 2L << 20

  /**
   * Reciprocal-rank fusion (Cormack et al. 2009): combine any number of
   * per-query rankings into one, `score(d) = Σ_r 1/(kRrf + rank_r(d))`
   * — the standard way to fuse lexical (BM25) with dense/prior
   * rankings without score calibration.
   *
   * Each input carries (qidCol, docCol, rankCol); a document absent
   * from a ranking simply contributes nothing (no imputed rank).
   * Fusion terms round to 12 decimals and sum as DECIMAL, so the fused
   * score is order-free and oracle-exact for any number of rankings;
   * top-k per query resolves ties by document id.
   *
   * Scale: one union + one (qid, doc) aggregate + one qid-partitioned
   * window over candidate sets already bounded by the input top-k's.
   */
  def rrfFuse(rankings: Seq[DataFrame], qidCol: String, docCol: String,
              rankCol: String = "rank", kRrf: Int = 60,
              topK: Int = 10): DataFrame = {
    require(rankings.nonEmpty, "at least one ranking required")
    require(kRrf >= 1 && topK >= 1)
    val terms = rankings.map(_.select(col(qidCol), col(docCol),
      round(lit(1.0) / (lit(kRrf) + col(rankCol)), 12)
        .cast("decimal(18,12)").as("_t"))).reduce(_ unionAll _)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(qidCol)).orderBy(col("_s").desc, col(docCol).asc)
    terms.groupBy(col(qidCol), col(docCol))
      .agg(sum(col("_t")).as("_s"))
      .withColumn("_rk", row_number().over(w))
      .filter(col("_rk") <= topK)
      .select(col(qidCol), col(docCol),
        col("_s").cast("double").as("rrf_score"))
  }

  /**
   * Offline ranking-quality evaluation of a retrieval run against a
   * relevance-judgment set (qrels): per-query recall@k, MRR@k and
   * nDCG@k — the IR evaluation triple, TREC conventions (graded gains
   * `2^rel − 1`, `log2(rank+1)` position discount, a query is scored
   * only if it has at least one relevant judgment).
   *
   * `run` is a search RESULT (qid, doc, score): top-k-per-query by
   * construction, so the per-query rank window sorts partitions
   * bounded by the run depth — and `qrels` is a judgment set, bounded
   * per query by labeling budget, so its ideal-order window is
   * equally safe. Neither is corpus-scale. Rows of `qrels` with
   * rel <= 0 are ignored (explicit negatives).
   *
   * Cross-engine float discipline (hash-exact like [[bm25TopK]]):
   * every per-hit term (gain/log2 discount, 1/rank) rounds to 7
   * decimals and sums as DECIMAL(18,7) — order-free — and the final
   * per-query ratios round to 6. `pow(2, rel)` on small integral rel
   * is IEEE-exact on both engines; log2's possible last-ulp
   * difference is absorbed by the 7-decimal term rounding.
   *
   * Output: (qid, n_rel, hits, recall, mrr, ndcg) — one row per query
   * with >= 1 relevant judgment; a query whose run retrieved nothing
   * relevant scores 0 across the board (standard trec_eval behavior).
   */
  def evalRanking(run: DataFrame, qidCol: String, docCol: String,
                  scoreCol: String, qrels: DataFrame, relCol: String,
                  k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val rel = qrels.filter(col(relCol) > 0)
      .select(col(qidCol), col(docCol),
        col(relCol).cast("double").as("__rel"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(qidCol))
      .orderBy(col(scoreCol).desc, col(docCol).asc)
    val ranked = run.select(col(qidCol), col(docCol), col(scoreCol))
      .withColumn("__rank", row_number().over(w))
      .filter(col("__rank") <= k)
    val hits = ranked.join(rel, Seq(qidCol, docCol))
      .groupBy(col(qidCol))
      .agg(
        count(lit(1)).as("__hits"),
        sum(round((pow(lit(2.0), col("__rel")) - 1.0) /
          log2(col("__rank") + 1), 7).cast("decimal(18,7)")).as("__dcg"),
        max(round(lit(1.0) / col("__rank"), 7)).as("__rr"))
    // ideal DCG: the judgment set's own top-k gains (rel desc, doc asc)
    val wi = org.apache.spark.sql.expressions.Window
      .partitionBy(col(qidCol))
      .orderBy(col("__rel").desc, col(docCol).asc)
    val relRanked = rel.withColumn("__i", row_number().over(wi))
    val base = relRanked
      .groupBy(col(qidCol))
      .agg(
        count(lit(1)).as("n_rel"),
        sum(when(col("__i") <= k,
          round((pow(lit(2.0), col("__rel")) - 1.0) /
            log2(col("__i") + 1), 7).cast("decimal(18,7)"))).as("__idcg"))
    base.join(hits, Seq(qidCol), "left")
      .select(col(qidCol), col("n_rel"),
        coalesce(col("__hits"), lit(0L)).as("hits"),
        round(coalesce(col("__hits"), lit(0L)) / col("n_rel"), 6)
          .as("recall"),
        coalesce(col("__rr"), lit(0.0)).as("mrr"),
        round(coalesce(col("__dcg").cast("double"), lit(0.0)) /
          col("__idcg").cast("double"), 6).as("ndcg"))
  }

  // persisted candidate-score frames whose plans have been handed to
  // callers; a long-lived session releases them between searches
  private val liveCaches = new CacheRegistry

  /** Unpersist every candidate cache handed out by [[bm25TopK]]. Call
    * after the previous results are consumed; plans returned earlier
    * recompute (correctly, just slower) if re-evaluated afterwards. */
  def releaseCaches(): Unit = liveCaches.releaseAll()
}
