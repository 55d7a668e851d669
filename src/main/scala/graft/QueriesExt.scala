package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.{Dedup, Dsir, Sampling, Sessionize, Similarity, TextPipeline}

/** LLM-data-pipeline extension inventory (SURVEY.md §7.4): dedup family,
  * text analysis, event sessionization / streaming batch-parity, similarity
  * search. Queries with exact cross-engine semantics carry DuckDB oracles;
  * hash/LSH-based operators (engine-specific hash functions) are registered
  * as rows-only checks and verified by ScalaTest instead.
  */
object QueriesExt {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(spark, dir, name)

  /** Distributed freeze: materialize `df` to the session checkpoint dir
    * (reliable `Dataset.checkpoint`, eager) and return a frame reading the
    * checkpoint files. This is how a wrapper snapshots an intermediate
    * result whose inputs are about to be unpersisted or mutated WITHOUT
    * pulling it through the driver: the write is executor-parallel, the
    * snapshot scales with cluster storage (HDFS/S3 on a real deployment,
    * the session temp dir here), and — unlike `localCheckpoint`, which
    * pins block-manager storage until GC — it leaves `getPersistentRDDs`
    * empty, so the smoke suite's cache-hygiene rule stays enforceable.
    * Corpus- or pair-stream-proportional `collect()` in a query wrapper is
    * banned (CollectHygieneSpec); this is the sanctioned replacement.
    *
    * Lifecycle: checkpoint data is reclaimed PER QUERY, not per session —
    * every graft session builder sets
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true` (a
    * SparkContext-creation conf), so the ContextCleaner deletes each
    * checkpoint's `rdd-*` directory once the consuming frame is
    * garbage-collected; a long-lived 100 TB session no longer accumulates
    * pair-stream-sized files until restart (`CheckpointHygieneSpec`
    * asserts the dir is non-growing across repeated wrapper runs). The
    * shutdown hook on the temp fallback below remains as the final sweep
    * for frames still referenced at exit.
    *
    * The driver-local temp fallback is LOCAL-MASTER ONLY: on a cluster,
    * executors would write `file:` paths on their own disks where the
    * reads then fail — a multi-executor deployment must set an explicit
    * shared checkpoint dir (HDFS/S3) before calling any wrapper that
    * freezes, and this fails loudly if it hasn't.
    */
  private[graft] def checkpointed(spark: SparkSession, df: DataFrame)
      : DataFrame = {
    if (spark.sparkContext.getCheckpointDir.isEmpty) {
      require(spark.sparkContext.isLocal,
        "no checkpoint dir set and master is not local: reliable " +
          "checkpoints need shared storage on a cluster — call " +
          "sc.setCheckpointDir(<hdfs/s3 path>) before queries that " +
          "freeze intermediate results")
      val d = java.nio.file.Files.createTempDirectory("graft-ckpt")
      sys.addShutdownHook {
        org.apache.commons.io.FileUtils.deleteQuietly(d.toFile); ()
      }
      spark.sparkContext.setCheckpointDir(d.toString)
    }
    df.checkpoint()
  }

  /** Events with `ts` normalized to a microsecond TIMESTAMP — see
    * [[Tables.events]] for the per-encoding dispatch (nanos-as-long vs
    * TIMESTAMP_NTZ generators).
    */
  private def events(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)

  // ------------------------------------------------------------------ dedup

  /** Exact dedup (hash-groupBy): surviving doc ids. */
  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    Dedup.exact(t(spark, dir, "documents"), "text", "doc_id")
      .select("doc_id")
      .orderBy("doc_id")

  /** Normalized (case/whitespace-insensitive) dedup survivors. */
  def dedupNormalized(spark: SparkSession, dir: String): DataFrame =
    Dedup.normalized(t(spark, dir, "documents"), "text", "doc_id")
      .select("doc_id")
      .orderBy("doc_id")

  /** MinHash-LSH near-dup candidate pairs (rows-only: xxhash64-based). */
  def minhashPairs(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashCandidates(t(spark, dir, "documents"), "text", "doc_id",
      shingleK = 3, numHashes = 64, bands = 16, threshold = 0.5)
      .orderBy("id_a", "id_b")

  /** MinHash near-dedup survivors (rows-only). */
  def minhashDedup(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashDedup(t(spark, dir, "documents"), "text", "doc_id",
      threshold = 0.8)
      .select("doc_id")
      .orderBy("doc_id")

  /** MinHash near-dedup with exact connected-component cluster resolution
    * (rows-only; handles chained clusters the greedy rule would over-keep).
    */
  def minhashDedupCC(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashDedupCC(t(spark, dir, "documents"), "text", "doc_id",
      threshold = 0.8)
      .select("doc_id")
      .orderBy("doc_id")

  /** SimHash near-dedup, precision-law checked: the survivor list itself is
    * simhash-bit-specific (not DuckDB-reproducible), so the query emits one
    * deterministic row of laws instead —
    * `removed_ok`: every removed doc has SOME smaller-id doc at exact
    * 3-shingle Jaccard >= 0.5 (simhash at hamming<=3/64 only fires on truly
    * similar token streams; a random pair agreeing on 61 of 64 bits is
    * ~binomial(64,.5) tail ≈ 1e-14), and
    * `exact_dedup_ok`: no two survivors share identical text (identical text
    * => identical simhash => hamming 0 => always removed). Either law failing
    * flips its boolean and the constant oracle goes red.
    */
  def simhashDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val survivors = Dedup.simhashDedup(docs, "text", "doc_id",
      maxHamming = 3, bands = 4)
      .select("doc_id", "text")
    val removed = docs.select("doc_id", "text")
      .join(survivors.select("doc_id"), Seq("doc_id"), "left_anti")
    // removed is a small fraction of the corpus (dup rate): broadcast IT
    // and stream the full corpus past it, exact-verifying shingle Jaccard
    // — never the reverse (the corpus is the 100 TB side). Both sides
    // pre-compute their distinct shingle-hash arrays ONCE (the minhash
    // verify-tail pattern): per-pair ngramJaccard re-tokenized BOTH texts
    // for every (corpus x removed) pair — tokenization, the expensive
    // step, ran |corpus|·|removed| times instead of |corpus|+|removed|
    val corpusH = docs.select(col("doc_id").as("__sid"),
      Dedup.shingleHashes(col("text"), 3).as("__sh"))
    val removedH = removed.select(col("doc_id").as("__rid"),
      Dedup.shingleHashes(col("text"), 3).as("__rh"))
    val inter = size(array_intersect(col("__sh"), col("__rh")))
    val union = size(col("__sh")) + size(col("__rh")) - inter
    val verified = corpusH
      .join(broadcast(removedH), col("__sid") < col("__rid"))
      .withColumn("__j",
        when(union > 0, inter.cast("double") / union).otherwise(lit(0.0)))
      .groupBy(col("__rid"))
      .agg((max(col("__j")) >= 0.5).as("__has_partner"))
    val removedOk = verified.agg(
      coalesce(min(col("__has_partner")), lit(true)).as("removed_ok"))
    val exactOk = survivors.agg(
      (countDistinct(col("text")) === count(lit(1))).as("exact_dedup_ok"))
    docs.agg(count(lit(1)).as("n_docs"))
      .crossJoin(removedOk).crossJoin(exactOk)
  }

  // ------------------------------------------------------------------- text

  /** Token/char counts + portable MD5 fingerprint per document. */
  def textStats(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(
        col("doc_id"),
        TextFunctions.charCount(col("text")).cast("long").as("n_chars"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"),
        TextFunctions.avgWordLength(col("text")).as("avg_word_len"),
        TextFunctions.fingerprintMd5(col("text")).as("fingerprint"))
      .orderBy("doc_id")

  /** Quality heuristics per document (ratios of integer counts — exact). */
  def textQuality(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(
        col("doc_id"),
        TextFunctions.punctRatio(col("text")).as("punct_ratio"),
        TextFunctions.alphaRatio(col("text")).as("alpha_ratio"),
        TextFunctions.stopwordRatio(col("text"),
          TextFunctions.EnglishStopwords).as("stopword_ratio"),
        TextFunctions.qualityScore(col("text")).as("quality"))
      .orderBy("doc_id")

  /** Marker-based language-ID scores + argmax prediction. */
  def textLangId(spark: SparkSession, dir: String): DataFrame = {
    val toks = TextFunctions.tokens(lower(col("text")))
    def hits(words: Seq[String]) = {
      val sw = array(words.map(lit): _*)
      size(filter(toks, tk => array_contains(sw, tk))).cast("long")
    }
    t(spark, dir, "documents")
      .select(
        col("doc_id"),
        hits(TextFunctions.LangMarkers("en")).as("s_en"),
        hits(TextFunctions.LangMarkers("de")).as("s_de"),
        hits(TextFunctions.LangMarkers("es")).as("s_es"),
        hits(TextFunctions.LangMarkers("fr")).as("s_fr"),
        hits(TextFunctions.LangMarkers("pt")).as("s_pt"),
        TextFunctions.langId(col("text")).as("lang_pred"))
      .orderBy("doc_id")
  }

  /** Trigram-profile language ID (rows-only: engine-specific profiles);
    * scored against the marker-word variant's predictions in
    * `TextFunctionsSpec` instead of a cross-engine oracle.
    */
  def textLangTrigram(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("doc_id"),
        TextFunctions.langIdTrigram(col("text")).as("lang_pred"))
      .orderBy("doc_id")

  /** Gopher-style repetition quality signals per document (exact integer
    * ratios — oracle-portable).
    */
  def textRepetition(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(
        col("doc_id"),
        TextFunctions.dupWordFraction(col("text")).as("dup_word_frac"),
        TextFunctions.topWordFraction(col("text")).as("top_word_frac"),
        TextFunctions.dupBigramFraction(col("text")).as("dup_2gram_frac"))
      .orderBy("doc_id")

  /** Composite quality filter: survivors + their signals (the end-to-end
    * training-data filter; oracle composes the proven x07/x08/x23 SQL).
    */
  def qualityFilter(spark: SparkSession, dir: String): DataFrame =
    graft.operators.QualityFilter(t(spark, dir, "documents"), "text")
      .select("doc_id", "n_tokens", "quality", "lang", "dup_word_frac")
      .orderBy("doc_id")

  /** JSON property extraction (`props` carries `{"k": N}`) aggregated per
    * event type — the semi-structured column surface.
    */
  def jsonExtract(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(get_json_object(col("props"), "$.k").cast("long")).as("sum_k"))
      .orderBy("event_type")

  /** Generator surface: explode whitespace tokens into a frequency table
    * (top 50, deterministic tiebreak).
    */
  def tokenFreq(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(explode(TextFunctions.tokens(col("text"))).as("tok"))
      .groupBy("tok")
      .agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), col("tok"))
      .limit(50)

  // ----------------------------------------------------------------- events

  /** Tumbling-window batch parity: hourly counts/sums per event type
    * (streaming counterpart: [[graft.streaming.Streams.hourlyCounts]]).
    */
  def eventsHourly(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(
        date_trunc("hour", col("ts")).as("hour"),
        col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double")
          .as("total_value"))
      .orderBy("hour", "event_type")

  /** Sliding (hopping) windows in batch: Spark's native
    * `window(ts, "1 hour", "15 minutes")` — each event lands in exactly
    * window/slide = 4 windows via the planner's Expand (no join, no
    * range explosion), the batch counterpart of
    * [[graft.streaming.Streams.slidingCounts]]. The oracle enumerates
    * the same 4 slide offsets with integer-microsecond floor division.
    */
  def eventsSliding(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double")
          .as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("total_value"))
      .orderBy("window_start", "event_type")

  /** Gaps-and-islands sessionization (30-minute gap). */
  def eventsSessionize(spark: SparkSession, dir: String): DataFrame =
    Sessionize.aggregate(events(spark, dir), gapSeconds = 1800L)
      .orderBy("user_id", "session_seq")

  /** First-event-per-(user,type) dedup (W1 family, ascending order). */
  def eventsFirstPerType(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id", "event_type")
      .orderBy(col("ts").asc, col("event_id").asc)
    events(spark, dir)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select("user_id", "event_type", "event_id", "ts")
      .orderBy("user_id", "event_type")
  }

  /** Backward as-of join: each purchase event picks up the user's most
    * recent view event at-or-before it ([[graft.operators.AsOfJoin]];
    * oracle uses DuckDB's native ASOF LEFT JOIN).
    */
  def asofJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts")
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts"),
        col("event_id").as("view_event_id"), col("ts").as("view_ts"))
    graft.operators.AsOfJoin.backward(
      purchases, views, keys = Seq("user_id"),
      leftTs = "ts", rightTs = "ts",
      payload = Seq("view_event_id", "view_ts"),
      rightTiebreak = Some("view_event_id"))
      .select(col("event_id"), col("user_id"), col("view_event_id"),
        (unix_micros(col("ts")) - unix_micros(col("view_ts"))).as("gap_us"))
      .orderBy("event_id")
  }

  /** Forward as-of join: each view event picks up the user's FIRST purchase
    * at-or-after it (next-conversion lookup; DuckDB ASOF with >= as oracle).
    */
  def asofForward(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    val views = ev.filter(col("event_type") === "view")
      .select("event_id", "user_id", "ts")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"),
        col("event_id").as("purchase_event_id"), col("ts").as("purchase_ts"))
    graft.operators.AsOfJoin.forward(
      views, purchases, keys = Seq("user_id"),
      leftTs = "ts", rightTs = "ts",
      payload = Seq("purchase_event_id", "purchase_ts"),
      rightTiebreak = Some("purchase_event_id"))
      .select(col("event_id"), col("user_id"), col("purchase_event_id"),
        (unix_micros(col("purchase_ts")) - unix_micros(col("ts")))
          .as("gap_us"))
      .orderBy("event_id")
  }

  /** Deterministic modulo train/test split with per-side stats (portable
    * oracle; the hash-based variant is [[graft.operators.Sampling.deterministicSplit]]).
    */
  def trainTestSplit(spark: SparkSession, dir: String): DataFrame = {
    val (train, test) = graft.operators.Sampling.moduloSplit(
      t(spark, dir, "documents"), "doc_id", modulus = 10, testResidue = 0)
    val a = train.agg(count(lit(1)).as("n"),
      sum(col("n_chars")).as("chars")).withColumn("split", lit("train"))
    val b = test.agg(count(lit(1)).as("n"),
      sum(col("n_chars")).as("chars")).withColumn("split", lit("test"))
    a.unionByName(b).select("split", "n", "chars").orderBy("split")
  }

  // ------------------------------------------------------------- similarity

  private def knnQueries(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "embeddings").filter(col("vec_id") < 20)

  /** Recall-law harness for the approximate-NN family: the approximate
    * operator's top-5 is compared against the in-query brute-force answer
    * and emitted as ONE deterministic row — `(n_queries, recall_ok)` — which
    * makes the operator's law (recall@5 >= bound) rows+schema+hash checkable
    * by a constant DuckDB oracle, where raw approximate ranks would be
    * engine-specific (hash functions, k-means inits) and stuck at rows-only
    * verification. If recall ever regresses below the bound, `recall_ok`
    * flips false and the oracle comparison goes red.
    */
  private def annRecallLaw(spark: SparkSession, dir: String,
      minRecall: Double)(
      ann: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val corpus = t(spark, dir, "embeddings")
    val qs = knnQueries(spark, dir)
    val approx = ann(corpus, qs)
      .select(col("query_id"), col("vec_id"))
      .dropDuplicates("query_id", "vec_id")
      .withColumn("__hit", lit(1L))
    Similarity.bruteForceTopK(corpus, qs, k = 5)
      .select(col("query_id"), col("vec_id"))
      .join(approx, Seq("query_id", "vec_id"), "left")
      .agg(
        countDistinct(col("query_id")).as("n_queries"),
        (sum(coalesce(col("__hit"), lit(0L))).cast("double") >=
          count(lit(1)).cast("double") * minRecall).as("recall_ok"))
  }

  /** The constant oracle the recall-law queries share: 20 query vectors,
    * law holds.
    */
  private val annRecallOracle: String =
    "SELECT CAST(20 AS BIGINT) AS n_queries, true AS recall_ok"

  /** Brute-force exact top-5 cosine neighbors for 20 query vectors.
    * The output carries ids and ranks only: neighbor ORDER is stable across
    * engines (cosine gaps dwarf float-association noise, verified at sf0.01
    * and sf0.1), while raw cosine VALUES would differ in final ulps — so
    * dropping the score column turns this into an exact oracle query.
    */
  def knnBrute(spark: SparkSession, dir: String): DataFrame =
    Similarity.bruteForceTopK(t(spark, dir, "embeddings"),
      knnQueries(spark, dir), k = 5)
      .select("query_id", "vec_id", "rank")
      .orderBy("query_id", "rank")

  // Law-query probe parameters: the synthetic embeddings are near-isotropic
  // (top-5 cosine ≈0.32 against noise σ≈0.15 — barely clustered), which is
  // the WORST case for ANN, so the law queries probe wider than the
  // cluster-structured defaults would need: IVF probes 6 of 8 cells and LSH
  // uses radius-2 multiprobe over 16 buckets. Measured recall with these is
  // ≥0.9 at sf0.001/0.01/0.1; the asserted bound leaves noise margin.

  /** LSH-bucketed approximate top-5 neighbors, recall-law checked. */
  def knnLsh(spark: SparkSession, dir: String): DataFrame =
    annRecallLaw(spark, dir, minRecall = 0.7) { (c, q) =>
      Similarity.lshTopK(c, q, k = 5, nPlanes = 4, dim = 64, probeRadius = 2)
    }

  /** IVF (k-means inverted file) approximate top-5, recall-law checked. */
  def knnIvf(spark: SparkSession, dir: String): DataFrame =
    annRecallLaw(spark, dir, minRecall = 0.8) { (c, q) =>
      Similarity.ivfTopK(c, q, k = 5, nList = 8, nProbe = 6)
    }

  /** IVF-PQ approximate top-5: product-quantized candidate scan + exact
    * re-rank (the scale path for 100 TB corpora), recall-law checked.
    */
  def knnIvfPq(spark: SparkSession, dir: String): DataFrame =
    annRecallLaw(spark, dir, minRecall = 0.8) { (c, q) =>
      Similarity.ivfPqTopK(c, q, k = 5, nList = 8, nProbe = 6,
        refine = 150)
    }

  /** IVF-PQ with residual re-quantization (two code levels): tighter ADC
    * shortlists at the same refine budget, recall-law checked.
    */
  def knnIvfPq2(spark: SparkSession, dir: String): DataFrame =
    annRecallLaw(spark, dir, minRecall = 0.8) { (c, q) =>
      Similarity.ivfPqTopK(c, q, k = 5, nList = 8, nProbe = 6,
        refine = 150, levels = 2)
    }

  /** IVF-PQ with a learned OPQ rotation (rotation-objective monotonicity
    * and re-rank exactness asserted in `OpqSpec`), recall-law checked.
    */
  def knnOpq(spark: SparkSession, dir: String): DataFrame =
    annRecallLaw(spark, dir, minRecall = 0.8) { (c, q) =>
      Similarity.ivfPqTopK(c, q, k = 5, nList = 8, nProbe = 6,
        refine = 150, opqIters = 3)
    }

  /** IVF + per-cell HNSW ANN (graph laws in `HnswSpec`), recall-law
    * checked.
    */
  def knnHnsw(spark: SparkSession, dir: String): DataFrame =
    annRecallLaw(spark, dir, minRecall = 0.8) { (c, q) =>
      Similarity.ivfHnswTopK(c, q, k = 5, nList = 8, nProbe = 6)
    }

  /** Incremental-index law: build the persisted per-cell HNSW index on the
    * even-id half of the corpus, APPEND the odd-id half (frozen coarse
    * quantizer, per-cell graph inserts — cost proportional to the batch,
    * not the corpus), then search the appended index. Recall@5 against
    * in-query brute force over the FULL corpus must hold — i.e. appended
    * vectors are as findable as built-in ones.
    */
  def knnHnswAppend(spark: SparkSession, dir: String): DataFrame =
    annRecallLaw(spark, dir, minRecall = 0.8) { (c, q) =>
      val base = c.filter(pmod(col("vec_id"), lit(2)) === 0)
      val adds = c.filter(pmod(col("vec_id"), lit(2)) === 1)
      val idx = Similarity.appendToHnswIndex(
        Similarity.buildHnswIndex(base, nList = 8), adds)
      Similarity.searchHnswIndex(idx, q, k = 5, nProbe = 6)
    }

  /** Array-column surface over embeddings: size, element access, max —
    * pure selections so float values pass through bit-exactly.
    */
  def arrayOps(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "embeddings")
      .select(
        col("vec_id"),
        size(col("embedding")).cast("int").as("dim"),
        element_at(col("embedding"), 1).as("e1"),
        array_max(col("embedding")).as("emax"),
        array_min(col("embedding")).as("emin"))
      .orderBy("vec_id")

  /** Embedding-cosine near-duplicate pairs, pair-law checked: the
    * OR-amplified LSH candidate pairs (12 tables x 3 planes — per-pair
    * recall 1-(1-p^3)^12 ≈ 0.97 at the 0.4 threshold) are compared against
    * the in-query brute-force pair set, and the output row carries the
    * EXACT pair count (DuckDB-reproducible via list_cosine_similarity)
    * plus the recall law. Found pairs are verified with the same cosine
    * expression the exact side uses, so precision is 1 by construction.
    */
  def embedNearDup(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.expr.CosineSimilarityExpr.cosineSim
    val emb = t(spark, dir, "embeddings").select(col("vec_id"),
      col("embedding"))
    val found = Similarity.nearDupPairs(emb, threshold = 0.4,
      nPlanes = 3, dim = 64, nTables = 12)
      .select(col("id_a"), col("id_b"))
      .withColumn("__hit", lit(1L))
    val exact = Similarity.exactCosinePairs(emb, 0.4)
      .select("id_a", "id_b")
    exact.join(found, Seq("id_a", "id_b"), "left")
      .agg(count(lit(1)).as("n_pairs_exact"),
        (sum(coalesce(col("__hit"), lit(0L))).cast("double") >=
          count(lit(1)).cast("double") * 0.8).as("recall_ok"))
  }

  /** SemDeDup semantic-dedup survivors (Abbas et al. 2023) over the exact
    * cosine graph at threshold 0.4: pairs → connected components → keep the
    * minimum vec_id per semantic group. The exact pair generator makes the
    * survivor set deterministic and fully DuckDB-checkable (recursive-CTE
    * reachability, the x26 pattern); the LSH-pair 100 TB path of
    * [[Similarity.semanticDedup]] is covered by SimilaritySpec with planted
    * high-cosine clusters where the OR-amplified recall is w.h.p. exact.
    */
  def semDedup(spark: SparkSession, dir: String): DataFrame =
    Similarity.semanticDedup(
      t(spark, dir, "embeddings").select(col("vec_id"), col("embedding")),
      threshold = 0.4, exact = true)
      .select("vec_id")
      .orderBy("vec_id")

  /** SemDeDup via the PRODUCTION pair generator (x131): the OR-amplified
    * hyperplane-LSH arm of [[Similarity.semanticDedup]] (`exact = false`)
    * — the path that runs at 100 TB, where x36's exact O(n^2) arm is the
    * verification baseline only — over a corpus with two planted
    * pure-scaled copies of every embedding (x1.001 and x0.999, offset
    * ids). Pure positive scaling preserves every hyperplane sign
    * pattern, so each copy lands in its source's bucket in EVERY LSH
    * table and the planted pairs (cosine exactly 1) are found with
    * certainty, not merely w.h.p.; and the base table's max pairwise
    * cosine sits far below the 0.95 threshold at every correctness SF
    * (measured: 0.48 at sf0.001, 0.51 at sf0.01, 0.60 at sf0.1), so the
    * duplicate graph is EXACTLY the planted {src, src*1.001, src*0.999}
    * triangles and keep-min leaves precisely the base vec_ids — a
    * deterministic, DuckDB-checkable survivor set through a
    * probabilistic pair generator.
    *
    * Plane count is SIZED FROM THE CORPUS ([[Similarity.recommendedPlanes]]
    * — one cheap count job), the pattern a 100 TB deployment must follow:
    * the first sf3 rung run proved that a fixed nPlanes = 8 (256 buckets
    * for 180k rows, comfortably inside the hot-bucket CAP rail) still
    * collapses — ~700-row buckets generate candidate pairs quadratically,
    * 813 s with 57 GB of spill — while sizing to ~32-row expected buckets
    * keeps the band exchange id-only. Plane count does not perturb the
    * oracle: the planted cosine-1 pairs agree with their source on EVERY
    * hyperplane, so their recall is exact at any geometry.
    */
  def semDedupLsh(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    // offsets clear of every SF's id space (sf3 tops out near 29M)
    val c1 = emb.select((col("vec_id") + lit(100000000L)).as("vec_id"),
      transform(col("embedding"), x => (x * lit(1.001f)).cast("float"))
        .as("embedding"))
    val c2 = emb.select((col("vec_id") + lit(200000000L)).as("vec_id"),
      transform(col("embedding"), x => (x * lit(0.999f)).cast("float"))
        .as("embedding"))
    val planes = Similarity.recommendedPlanes(emb.count() * 3)
    Similarity.semanticDedup(emb.unionByName(c1).unionByName(c2),
      threshold = 0.95, exact = false, nPlanes = planes, nTables = 4)
      .select("vec_id")
      .orderBy("vec_id")
  }

  /** Fixed-size token-window chunking with overlap — training context
    * packing. Row-local (tokenize + HOF slices + posexplode): no shuffle.
    */
  def chunkDocs(spark: SparkSession, dir: String): DataFrame =
    TextPipeline.chunkByTokens(t(spark, dir, "documents"), "text", "doc_id",
      chunkSize = 32, overlap = 8)
      .orderBy("doc_id", "chunk_id")

  /** Greedy sequence-packing laws: chunk the corpus (x38 parameters), pack
    * into 30-token bins (full 32-token windows are deliberately oversize,
    * exercising the isolation path), and emit the partition-INVARIANT
    * contract — conservation (chunk/token totals match the chunking math),
    * zero multi-member bins over capacity, zero bin_fill/member-sum
    * mismatches, zero oversize chunks sharing a bin, zero lost or
    * duplicated chunk ids. Bin COMPOSITION is partition-dependent by
    * design (next-fit within each range partition), so the hashed oracle
    * is this law set, not bin ids. Laws are materialized eagerly off a
    * persisted packing (two single-row aggregates) and the cache is
    * released before returning.
    */
  def packingLaws(spark: SparkSession, dir: String): DataFrame = {
    val capacity = 30L
    // collision-free chunk id: a struct compares field-wise, so it range
    // partitions, sorts, and countDistincts correctly with NO arithmetic
    // encoding to overflow or collide (doc_id*K+chunk_id collides once a
    // document exceeds K chunks, silently corrupting n_dup_chunk_ids —
    // the very law this query certifies)
    val chunks = TextPipeline.chunkByTokens(t(spark, dir, "documents"),
      "text", "doc_id", chunkSize = 32, overlap = 8)
      .select(struct(col("doc_id"), col("chunk_id")).as("cid"),
        col("n_tokens"))
    val packed = TextPipeline.packChunks(chunks, "n_tokens", "cid",
      capacity).persist()
    val totals = packed.agg(
      count(lit(1)).as("n_chunks"),
      sum(col("n_tokens")).cast("long").as("n_tokens"),
      (count(lit(1)) - countDistinct(col("cid"))).as("n_dup"))
      .head()
    val binLaws = packed.groupBy(col("bin_id"))
      .agg(sum(col("n_tokens")).as("tot"), first(col("bin_fill")).as("fill"),
        count(lit(1)).as("members"), max(col("n_tokens")).as("maxtok"))
      .agg(
        sum(when(col("fill") > capacity && col("members") > 1, 1L)
          .otherwise(0L)).as("n_cap"),
        sum(when(col("tot") =!= col("fill"), 1L).otherwise(0L)).as("n_mis"),
        sum(when(col("maxtok") > capacity && col("members") > 1, 1L)
          .otherwise(0L)).as("n_iso"))
      .head()
    packed.unpersist()
    import spark.implicits._
    Seq((totals.getLong(0), totals.getLong(1), binLaws.getLong(0),
      binLaws.getLong(1), binLaws.getLong(2), totals.getLong(2)))
      .toDF("n_chunks", "n_tokens", "n_capacity_violations",
        "n_fill_mismatch", "n_oversize_not_alone", "n_dup_chunk_ids")
  }

  /** GPT-3-style 13-gram benchmark decontamination, with the corpus's
    * first 20 documents standing in as the benchmark set: each benchmark
    * doc flags itself (exactly) and any near-duplicate sharing a 13-gram.
    * The benchmark n-gram set is distinct-reduced and broadcast — the
    * corpus side never shuffles text.
    */
  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    TextPipeline.flagContaminated(docs, docs.filter(col("doc_id") < 20),
      "text", "doc_id", n = 13, minHits = 1)
      .orderBy("doc_id")
  }

  /** PII redaction. The corpus text carries no PII, so both engines build
    * the SAME deterministic augmented text (email + phone + IP derived
    * from doc_id) and redact it — the redaction chain, not the synthetic
    * suffix, is what the hash comparison locks.
    */
  def piiRedact(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("doc_id"), TextPipeline.redactPii(concat(
        substring(col("text"), 1, 40),
        lit(" reach user"), col("doc_id"),
        lit("@mail.example.com or 415-555-"),
        lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
        lit(" from 10.0."), pmod(col("doc_id"), lit(256)), lit("."),
        pmod(col("doc_id"), lit(254)) + 1)).as("redacted"))
      .orderBy("doc_id")

  /** Incremental near-dedup equality law: fold the corpus through
    * [[Dedup.incrementalMinhashDedup]] in three id-ordered batches against
    * persisted bucketed state, then emit the union of per-batch survivors.
    * State keeps every seen doc, so the survivor set provably equals the
    * one-shot greedy dedup over the whole corpus — and the oracle IS x04's
    * full-corpus SQL, making the batch-vs-one-shot equality hash-checked.
    * Each fold is frozen with a reliable checkpoint ([[checkpointed]] —
    * executor-parallel, never driver-bound) before the next fold mutates
    * the shared state tables, so the folds run strictly in arrival order
    * and the emitted union stays valid after the state is dropped.
    */
  def incrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    // law query, deliberately bounded: the equality property is
    // id-range-independent, and x04 already runs one-shot dedup over the
    // full corpus — two folds of a 999-doc prefix exercise both candidate
    // paths (in-batch and history-vs-batch) while keeping the per-fold
    // fixed cost (2 bucketed state writes + candidate joins) out of the
    // bench's critical path
    val docs = t(spark, dir, "documents").filter(col("doc_id") < 999)
    val prefix = "x42_state"
    Dedup.dropIncrementalDedupState(spark, prefix)
    val n = 999L
    val bounds = Seq((0L, n / 2), (n / 2, n))
    val folds = bounds.map { case (lo, hi) =>
      val surv = Dedup.incrementalMinhashDedup(
        docs.filter(col("doc_id") >= lo && col("doc_id") < hi),
        prefix, "text", "doc_id", threshold = 0.8, buckets = 4)
      // eager checkpoint forces this fold and decouples it from the state
      // tables the next fold mutates — O(survivors) stays on executors
      val frozen = checkpointed(spark, surv.select(col("doc_id")))
      surv.unpersist() // fold consumed; the returned frame is caller-owned
      frozen
    }
    Dedup.dropIncrementalDedupState(spark, prefix)
    folds.reduce(_.union(_)).orderBy("doc_id")
  }

  /** Hard-negative mining (contrastive-training data prep): top-5 most
    * similar non-duplicate candidates per anchor, cosine capped below
    * 0.45. Rank-only projection — exact oracle, like x12.
    */
  def hardNegativeMining(spark: SparkSession, dir: String): DataFrame =
    Similarity.hardNegatives(t(spark, dir, "embeddings"),
      knnQueries(spark, dir), k = 5, dupThreshold = 0.45)
      .select("query_id", "vec_id", "rank")
      .orderBy("query_id", "rank")

  /** Corpus-trained bigram-LM score per document (CCNet-style perplexity
    * quality signal): exact counts, total-order vocabulary, add-one
    * smoothing — deterministic end to end, so per-doc mean log-probability
    * (6dp) is hash-checked against a DuckDB replica.
    */
  def ngramLmScore(spark: SparkSession, dir: String): DataFrame =
    graft.operators.NgramLm.scoreDocs(t(spark, dir, "documents"), "text",
      "doc_id")
      .orderBy("doc_id")

  /** Exact duplicated-substring statistics (Lee et al. 2022 shape):
    * per doc, tokens covered by a non-canonical duplicated 20-token
    * window (canonical = first occurrence by (doc, pos)) and the
    * surviving count. Fully deterministic — window identity is the token
    * string, ranking is total-ordered — so the whole computation is
    * hash-checked against a DuckDB replica.
    */
  def substringDedupStats(spark: SparkSession, dir: String): DataFrame =
    TextPipeline.duplicatedSpanStats(t(spark, dir, "documents"), "text",
      "doc_id", k = 20)
      .orderBy("doc_id")

  /** Versioned-table MERGE/DELETE/time-travel law (the reference's own
    * roadmap item, delivered without table-format jars): init a table from
    * an orders slice, MERGE a deterministic update+insert batch, DELETE a
    * tombstone batch, then emit the final row count and exact price sum
    * alongside the version count and the UNCHANGED v0 row count — time
    * travel after two commits is part of the hashed contract.
    */
  def mergeUpsert(spark: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft-x44")
      .toString + "/tbl"
    try {
    val base = t(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"))
      .filter(col("o_orderkey") < 4000)
    graft.sources.VersionedTable.init(base, root)
    val u1 = base.filter(pmod(col("o_orderkey"), lit(7)) === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 10)
    val i1 = base.filter(pmod(col("o_orderkey"), lit(11)) === 0)
      .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
        col("o_totalprice"))
    graft.sources.VersionedTable.merge(spark, root,
      u1.unionByName(i1), Seq("o_orderkey"))
    val d2 = base.filter(pmod(col("o_orderkey"), lit(13)) === 0)
      .select("o_orderkey")
    graft.sources.VersionedTable.delete(spark, root, d2, Seq("o_orderkey"))
    val nVersions =
      graft.sources.VersionedTable.latestVersion(spark, root) + 1
    val v0Rows = graft.sources.VersionedTable.read(spark, root, Some(0))
      .count()
    val finalRow = graft.sources.VersionedTable.read(spark, root)
      .agg(count(lit(1)).as("n_rows"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("sum_price"))
      .head()
    import spark.implicits._
    Seq((finalRow.getLong(0), finalRow.getDouble(1), nVersions.toLong,
      v0Rows))
      .toDF("n_rows", "sum_price", "n_versions", "v0_rows")
    } finally {
      // the law is fully materialized: drop the temp table on every exit
      // path so repeated (or failed) runs don't accumulate /tmp copies
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(root).getParentFile)
    }
  }

  /** File-skipping versioned reads: build a range-clustered versioned
    * table over lineitem with per-file min/max stats on `l_orderkey`,
    * MERGE a price bump for a narrow key band (v1 — whose files, being
    * join output, lose the clustering), then [[graft.sources.VersionedTable
    * .recluster]] (v2 — the jar-free OPTIMIZE analogue that restores it).
    * Emits the range-read values at v0 (a TIME-TRAVEL read that must scan
    * only stats-surviving files) and at v2, plus the skip laws:
    * `v0_skips`/`v2_skips` — the pruned read touched a strict subset of
    * files — and `v1_matches` — the unclustered version still returns
    * exactly the reclustered version's rows (pruning is an index, never a
    * filter). File COUNTS stay out of the compared columns: range
    * partition boundaries come from Spark's sampler, which DuckDB cannot
    * replay; values and laws are engine-portable, layouts are not.
    */
  def statsSkipping(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.VersionedTable
    val root = java.nio.file.Files.createTempDirectory("graft-x49")
      .toString + "/tbl"
    try {
    // a deterministic half slice: the skipping laws are scale-free and
    // the three full-table version writes are pure bench IO (the x88
    // convention; oracle mirrors the slice filter)
    val base = t(spark, dir, "lineitem")
      .filter(col("l_orderkey") % 8 === 0)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
      .repartitionByRange(8, col("l_orderkey"))
      .sortWithinPartitions("l_orderkey")
    VersionedTable.init(base, root, statsColumns = Seq("l_orderkey"))
    val updates = VersionedTable.read(spark, root)
      .filter(col("l_orderkey").between(1500, 1599))
      .withColumn("l_extendedprice", col("l_extendedprice") + 1.0)
    VersionedTable.merge(spark, root, updates,
      Seq("l_orderkey", "l_linenumber"))
    VersionedTable.recluster(spark, root, "l_orderkey", partitions = 8)
    // all three versions' range aggregates in ONE job: the pruned reads
    // union with a version tag instead of paying three action round-trips
    def ranged(v: Int) =
      VersionedTable.readRange(spark, root, "l_orderkey", 1000, 2000,
        Some(v))
        .select(lit(v).as("__v"),
          col("l_extendedprice").cast("decimal(18,2)").as("__p"))
    val byV = ranged(0).unionByName(ranged(1)).unionByName(ranged(2))
      .groupBy("__v")
      .agg(count(lit(1)).as("n"), sum(col("__p")).cast("double").as("s"))
      .collect() // bounded: 3 version rows
      .map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    val (a0, a1, a2) = (byV(0), byV(1), byV(2))
    val (read0, tot0) = VersionedTable.pruneCounts(spark, root,
      "l_orderkey", 1000, 2000, Some(0))
    val (read2, tot2) = VersionedTable.pruneCounts(spark, root,
      "l_orderkey", 1000, 2000, Some(2))
    import spark.implicits._
    Seq((a0._1, a0._2, a2._1, a2._2,
      read0 > 0 && read0 < tot0, read2 > 0 && read2 < tot2,
      a1._1 == a2._1 && a1._2 == a2._2))
      .toDF("n_v0", "sum_v0", "n_v2", "sum_v2",
        "v0_skips", "v2_skips", "v1_matches")
    } finally {
      // laws are materialized before this point; drop the temp table on
      // every exit path or failed runs accumulate /tmp lineitem copies
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(root).getParentFile)
    }
  }

  /** Composed pruning on a PARTITIONED versioned table: lineitem is
    * hive-partitioned on `l_returnflag` AND range-clustered on
    * `l_orderkey` with per-file min/max stats — the standard lakehouse
    * layout (partition on the categorical filter key, cluster on the
    * range key). A `flag = 'R' AND orderkey BETWEEN` read must prune on
    * BOTH axes independently: static partition pruning drops the other
    * flags' directories, the stats index drops out-of-range files within
    * the surviving directories. Laws: `compose_skips` — the composed read
    * touches strictly fewer files than stats alone, which touches
    * strictly fewer than the table; `match_ok` — pruned values equal the
    * plain filtered read (pruning is an index, never a filter). File
    * counts stay OUT of the compared columns (layouts are
    * engine-specific; values and laws are portable).
    */
  def partitionedSkipping(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.VersionedTable
    val root = java.nio.file.Files.createTempDirectory("graft-x53")
      .toString + "/tbl"
    try {
      // quarter slice, the x49/x88 convention: the pruning laws are
      // scale-free (file counts and prune ratios are layout properties,
      // not row-count properties), the partitioned version write is pure
      // bench IO
      val base = t(spark, dir, "lineitem")
        .filter(col("l_orderkey") % 4 === 0)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_extendedprice"), col("l_returnflag"))
        .repartitionByRange(6, col("l_orderkey"))
        .sortWithinPartitions("l_orderkey")
      VersionedTable.init(base, root, statsColumns = Seq("l_orderkey"),
        partitionBy = Seq("l_returnflag"))
      val (lo, hi) = (1000, 2000)
      val pruned = VersionedTable.readRange(spark, root, "l_orderkey",
        lo, hi, partitionValues = Seq("l_returnflag" -> "R"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
            .as("s"))
        .head()
      val full = VersionedTable.read(spark, root)
        .filter(col("l_returnflag") === "R" &&
          col("l_orderkey").between(lo, hi))
        .agg(count(lit(1)).as("n"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
            .as("s"))
        .head()
      val (readBoth, total) = VersionedTable.pruneCounts(spark, root,
        "l_orderkey", lo, hi, partitionValues = Seq("l_returnflag" -> "R"))
      val (readStats, _) = VersionedTable.pruneCounts(spark, root,
        "l_orderkey", lo, hi)
      import spark.implicits._
      Seq((pruned.getLong(0), pruned.getDouble(1),
        readBoth > 0 && readBoth < readStats && readStats < total,
        pruned.getLong(0) == full.getLong(0) &&
          pruned.getDouble(1) == full.getDouble(1)))
        .toDF("n_rows", "sum_price", "compose_skips", "match_ok")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(root).getParentFile)
    }
  }

  /** Image content dedup through the REAL codec path: render one PNG test
    * card per embeddings id ([[graft.multimodal.Multimodal
    * .renderTestCards]] — real ImageIO encode), decode every card with the
    * real per-pixel feature kernel, and dedup twice — by payload bytes
    * and by decoded feature vector. The cards are built so both
    * granularities reduce to id arithmetic (color pair = id%100, pixel
    * arrangement = (id/100)%2; arrangements share the pixel MULTISET, so
    * features collide exactly when the color pair does while bytes also
    * need the arrangement) — DuckDB replays every output from the ids.
    * `n_undecoded` = 0 proves no card fell back to the null-feature path;
    * feature classes < byte classes proves decoded-content dedup is
    * strictly stronger than byte dedup.
    */
  def imageNearDup(spark: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.Multimodal
    val cards = Multimodal.renderTestCards(
      t(spark, dir, "embeddings").select(col("vec_id")), "vec_id")
    // two actions consume the decode output — persist so the codec kernel
    // (the expensive stage) runs once, and release before returning
    val feats = Multimodal.decodeImageFeatures(cards, "asset").persist()
    val (agg, survivorSum) =
      try {
        val a = feats.agg(
          count(lit(1)).as("n_images"),
          sum(col("image_features").isNull.cast("long")).as("n_undecoded"),
          countDistinct(Multimodal.payloadHash(col("asset")))
            .as("n_byte_classes"),
          countDistinct(col("image_features")).as("n_feature_classes"))
          .head()
        val s = feats
          .groupBy(col("image_features"))
          .agg(min(col("vec_id")).as("keep"))
          .agg(sum(col("keep"))).head().getLong(0)
        (a, s)
      } finally feats.unpersist()
    import spark.implicits._
    Seq((agg.getLong(0), agg.getLong(1), agg.getLong(2), agg.getLong(3),
      survivorSum))
      .toDF("n_images", "n_undecoded", "n_byte_classes",
        "n_feature_classes", "survivor_id_sum")
  }

  /** Unicode-canonical fingerprints: every document's normalized text is
    * bracketed by a COMPOSED "café" prefix and a DECOMPOSED
    * "cafe"+U+0301 suffix, NFC-normalized, and md5-fingerprinted. The two
    * bracket forms are byte-different but canonically equal, so the
    * fingerprints match DuckDB's `nfc_normalize` replay iff both engines
    * actually compose — an engine that skips NFC (or applies it
    * differently) reddens every row. Pure projection: zero shuffles, and
    * the NFC expression generates a direct static call so the scan spine
    * stays in whole-stage codegen.
    */
  def nfcFingerprint(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("doc_id"),
        md5(TextFunctions.nfc(concat(
          lit("caf\u00e9 "), // composed: U+00E9
          TextFunctions.normalize(col("text")),
          lit(" cafe\u0301")))).as("fp")) // decomposed: e + U+0301
      .orderBy("doc_id")

  /** First BPE merge step (tokenizer training): count adjacent
    * character-pair occurrences inside lowercased whitespace tokens
    * across the corpus and emit the top 50 (count desc, pair asc — total
    * order, so exactly replayable). This is the frequency table the
    * byte-pair-encoding loop greedily merges from; at 100 TB it is one
    * explode + one hash aggregation (map-side combined: pair cardinality
    * is bounded by the character-bigram space, not the corpus) + a 50-row
    * TakeOrdered — no shuffle carries text.
    */
  def bpePairCounts(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.widenForKernel(
        t(spark, dir, "documents").select(col("text")), col("text"))
      .select(explode(TextFunctions.tokens(lower(col("text"))))
        .as("token"))
      // single-char tokens have no pair; without the guard Spark's
      // sequence(1, 0) would run DESCENDING and fabricate one
      .filter(length(col("token")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, length(token) - 1), i -> substring(token, i, 2))"))
        .as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), asc("pair"))
      .limit(50)

  /** Range (band) join ([[graft.operators.RangeJoin.bandJoin]]): every
    * (error, click) pair of the SAME user within +-6 hours — incident
    * correlation over the events stream. The bucketized equi-join keyed on
    * (12h time bucket, user) replaces the BroadcastNestedLoop + filter
    * Spark would otherwise plan for the range predicate; DuckDB replays
    * the inequality join exactly.
    */
  def rangeJoinEvents(spark: SparkSession, dir: String): DataFrame = {
    val tol = 21600000000L // 6h in micros
    val ev = graft.Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("tsu"))
    val errors = ev.filter(col("event_type") === "error")
      .select(col("event_id").as("err_id"), col("user_id"),
        col("tsu").as("err_ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("tsu").as("click_ts"))
    graft.operators.RangeJoin.bandJoin(errors, clicks, "err_ts", "click_ts",
      tol, extraKeys = Seq("user_id"))
      .select(col("err_id"), col("click_id"))
      .orderBy("err_id", "click_id")
  }

  /** Naive cross-entity temporal-proximity join accelerated by the
    * [[graft.plans.RangeJoinRewrite]] optimizer rule (x100): clicks
    * within ±6h of ANY error — deliberately with NO equi key, the shape
    * Spark alone can only plan as a BroadcastNestedLoopJoin — written as
    * the plain BETWEEN condition a SQL user would type and rolled up per
    * error-id bucket. The rule and its activating conf are installed in a
    * CHILD session (`spark.newSession()` — shared SparkContext, isolated
    * conf/experimental methods), so no optimizer state ever leaks into
    * the caller's session: a concurrent query in the parent can never be
    * rewritten mid-flight and nothing needs un-installing. The
    * aggregation collapses to 16 driver rows before collect, and the
    * oracle replays the raw inequality join in DuckDB (IEJoin evaluates
    * the quadratic form the rewritten plan avoids).
    */
  def rangeJoinSqlRewrite(spark: SparkSession, dir: String): DataFrame = {
    val s = spark; import s.implicits._
    val tol = 21600000000L // 6h in micros
    val child = spark.newSession()
    child.experimental.extraOptimizations =
      child.experimental.extraOptimizations :+
        graft.plans.RangeJoinRewrite(child)
    child.conf.set("spark.graft.rangeJoin.binSize", (2 * tol).toString)
    // this surface BENCHMARKS the rewrite path: pin it on regardless of
    // the SF-dependent size estimate (the stats guard is for session-wide
    // enablement; RangeJoinRewriteSpec covers its decline behavior)
    child.conf.set("spark.graft.rangeJoin.smallSideBytes", "0")
    val ev = graft.Tables.events(child, dir)
      .select(col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("tsu"))
    val errors = ev.filter(col("event_type") === "error")
      .select(col("event_id").as("err_id"), col("tsu").as("err_ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("tsu").as("click_ts"))
    val rows =
      clicks.join(errors,
          col("click_ts") >= col("err_ts") - tol &&
            col("click_ts") <= col("err_ts") + tol)
        .groupBy(pmod(col("err_id"), lit(16L)).as("bucket"))
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("click_id")).as("n_clicks"))
        .collect() // bounded: <= 16 bucket rows
    rows.toSeq.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toDF("bucket", "n_pairs", "n_clicks")
      .orderBy("bucket")
  }

  /** The TIMESTAMP-axis naive window join behind x103, exposed so the
    * plan-pinning spec can assert on the exact frame the query
    * aggregates: clicks joined to ±2h purchase windows with plain
    * `BETWEEN` over TIMESTAMP columns in SQL text, in a CHILD session
    * carrying [[graft.plans.RangeJoinRewrite]] with
    * `binSize=auto` — the rule buckets on epoch micros and derives the
    * width from the window side itself (p75 span via one bounded
    * approxQuantile job).
    */
  def rangeJoinTimeFrame(spark: SparkSession, dir: String)
      : (SparkSession, DataFrame) = {
    val child = spark.newSession()
    child.experimental.extraOptimizations =
      child.experimental.extraOptimizations :+
        graft.plans.RangeJoinRewrite(child)
    child.conf.set("spark.graft.rangeJoin.binSize", "auto")
    // rewrite-path benchmark: guard off so the pin holds at every SF
    child.conf.set("spark.graft.rangeJoin.smallSideBytes", "0")
    val ev = graft.Tables.events(child, dir)
      .select(col("event_id"), col("event_type"), col("ts"))
    ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("win_id"), col("ts").as("wts"))
      .createOrReplaceTempView("graft_x103_windows")
    ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("ts").as("cts"))
      .createOrReplaceTempView("graft_x103_clicks")
    // the naive SQL a user writes: TIMESTAMP BETWEEN with interval
    // bounds, no equi key — Spark alone plans a BroadcastNestedLoopJoin
    (child, child.sql(
      """SELECT w.win_id, c.click_id
        |FROM graft_x103_clicks c JOIN graft_x103_windows w
        |  ON c.cts BETWEEN w.wts - INTERVAL '2' HOUR
        |               AND w.wts + INTERVAL '2' HOUR""".stripMargin))
  }

  /** Temporal-window join on the TIMESTAMP axis through the optimizer
    * rewrite (x103): clicks within ±2h of any purchase, written as naive
    * SQL `BETWEEN` over TIMESTAMP columns — the DATE/TIMESTAMP twin of
    * x100's epoch-long surface, proving the rule fires on the time types
    * real queries use (the reference's only range predicate is a date
    * window, `/root/reference/submission_Amadeu/sql/metrics.sql:11`).
    * `binSize=auto` exercises the self-derived width path. Rolled up per
    * purchase-id bucket (<= 8 driver rows); the oracle replays the raw
    * inequality join in DuckDB at micro precision (`epoch_us`, matching
    * the engine's micros-normalized TIMESTAMP).
    */
  def rangeJoinTimeRewrite(spark: SparkSession, dir: String): DataFrame = {
    val s = spark; import s.implicits._
    val (_, joined) = rangeJoinTimeFrame(spark, dir)
    val rows = joined
      .groupBy(pmod(col("win_id"), lit(8L)).as("bucket"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("click_id")).as("n_clicks"))
      .collect() // bounded: <= 8 bucket rows
    rows.toSeq.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toDF("bucket", "n_pairs", "n_clicks")
      .orderBy("bucket")
  }

  /** LEFT OUTER range join through the optimizer rewrite (x104): every
    * click, paired with the sparse ±20-minute purchase windows covering
    * it (purchases with event_id % 5 = 0 only, so most clicks are
    * UNMATCHED and the null-extension path carries real weight), written
    * as the naive SQL `LEFT JOIN ... ON ts BETWEEN lo AND hi` a user
    * types — Spark alone plans an outer BroadcastNestedLoopJoin; the
    * rule plans the bucketized inner join UNION the value-complemented
    * unmatched rows. Rolled up per click bucket into total/matched/
    * unmatched counts (<= 8 driver rows); the oracle replays the raw
    * outer inequality join in DuckDB at micro precision.
    */
  def rangeJoinLeftOuterFrame(spark: SparkSession, dir: String)
      : (SparkSession, DataFrame) = {
    val child = spark.newSession()
    child.experimental.extraOptimizations =
      child.experimental.extraOptimizations :+
        graft.plans.RangeJoinRewrite(child)
    // 40-minute windows: bucket width = the window span, in micros
    child.conf.set("spark.graft.rangeJoin.binSize",
      (40L * 60L * 1000000L).toString)
    // rewrite-path benchmark: guard off so the pin holds at every SF
    child.conf.set("spark.graft.rangeJoin.smallSideBytes", "0")
    val ev = graft.Tables.events(child, dir)
      .select(col("event_id"), col("event_type"), col("ts"))
    ev.filter(col("event_type") === "purchase" &&
        pmod(col("event_id"), lit(5L)) === 0L)
      .select(col("event_id").as("win_id"), col("ts").as("wts"))
      .createOrReplaceTempView("graft_x104_windows")
    ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("ts").as("cts"))
      .createOrReplaceTempView("graft_x104_clicks")
    (child, child.sql(
      """SELECT c.click_id, w.win_id
        |FROM graft_x104_clicks c LEFT JOIN graft_x104_windows w
        |  ON c.cts BETWEEN w.wts - INTERVAL '20' MINUTE
        |               AND w.wts + INTERVAL '20' MINUTE""".stripMargin))
  }

  /** The x104 aggregation over [[rangeJoinLeftOuterFrame]] — see that
    * helper's scaladoc for the join's construction; the frame is shared
    * with the plan-pinning spec so the pin always covers the shipped
    * query's exact shape.
    */
  def rangeJoinLeftOuter(spark: SparkSession, dir: String): DataFrame = {
    val s = spark; import s.implicits._
    val (_, joined) = rangeJoinLeftOuterFrame(spark, dir)
    val rows = joined
      .groupBy(pmod(col("click_id"), lit(8L)).as("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        count(col("win_id")).as("n_matched"),
        sum(when(col("win_id").isNull, 1L).otherwise(0L))
          .as("n_unmatched"))
      .collect() // bounded: <= 8 bucket rows
    rows.toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toDF("bucket", "n_rows", "n_matched", "n_unmatched")
      .orderBy("bucket")
  }

  /** DATE-axis range join through the optimizer rewrite (x105): orders
    * joined to monthly 10-day "campaign windows" via the naive SQL
    * `BETWEEN ws AND date_add(ws, 9)` a user types — the reference's
    * own range predicate is exactly this date-window shape
    * (`/root/reference/submission_Amadeu/sql/metrics.sql:11`), and
    * before the DATE extension the rule silently left such joins as
    * BroadcastNestedLoopJoins. `binSize=auto` derives the 9-day bucket
    * from the window spans themselves (DATE buckets on epoch days).
    * Revenue follows the cross-engine money contract
    * (SUM over DECIMAL(18,2), cast back to double).
    */
  def rangeJoinDateRewrite(spark: SparkSession, dir: String): DataFrame = {
    val child = spark.newSession()
    child.experimental.extraOptimizations =
      child.experimental.extraOptimizations :+
        graft.plans.RangeJoinRewrite(child)
    child.conf.set("spark.graft.rangeJoin.binSize", "auto")
    // the ~80-row window side is EXACTLY the shape the stats guard
    // declines by default (COVERAGE's BNLJ-wins counter-case); this
    // surface exists to prove the DATE-axis rewrite, so the guard is
    // off here and RangeJoinRewriteSpec pins the default decline
    child.conf.set("spark.graft.rangeJoin.smallSideBytes", "0")
    t(child, dir, "orders")
      .select(col("o_orderkey"),
        col("o_orderdate").cast("date").as("od"), col("o_totalprice"))
      .createOrReplaceTempView("graft_x105_orders")
    child.sql(
      """SELECT explode(sequence(DATE'1995-01-01', DATE'2001-08-01',
        |  interval 1 month)) AS ws""".stripMargin)
      .createOrReplaceTempView("graft_x105_windows")
    child.sql(
      """SELECT date_format(w.ws, 'yyyy-MM-dd') AS window_start,
        |  COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS revenue
        |FROM graft_x105_orders o JOIN graft_x105_windows w
        |  ON o.od BETWEEN w.ws AND date_add(w.ws, 9)
        |GROUP BY w.ws
        |ORDER BY window_start""".stripMargin)
  }

  /** FULL OUTER range join through the optimizer rewrite (x110): clicks
    * vs sparse ±5-minute purchase windows where BOTH complements carry
    * real weight (most clicks have no covering window AND most windows
    * cover no click). Written as the naive `FULL JOIN ... ON ts BETWEEN`
    * SQL a user types — Spark alone plans an outer
    * BroadcastNestedLoopJoin; the rule plans the bucketized inner core
    * UNION the value-based complement of EACH side, null-extended.
    * Rolled up into per-kind tallies (matched / click_only /
    * window_only — <= 3 driver rows); the oracle replays the raw outer
    * inequality join in DuckDB at micro precision. Shares its frame with
    * the plan-pinning spec via [[rangeJoinFullOuterFrame]].
    */
  def rangeJoinFullOuterFrame(spark: SparkSession, dir: String)
      : (SparkSession, DataFrame) = {
    val child = spark.newSession()
    child.experimental.extraOptimizations =
      child.experimental.extraOptimizations :+
        graft.plans.RangeJoinRewrite(child)
    // 10-minute windows: bucket width = the window span, in micros
    child.conf.set("spark.graft.rangeJoin.binSize",
      (10L * 60L * 1000000L).toString)
    // rewrite-path benchmark: guard off so the pin holds at every SF
    child.conf.set("spark.graft.rangeJoin.smallSideBytes", "0")
    val ev = graft.Tables.events(child, dir)
      .select(col("event_id"), col("event_type"), col("ts"))
    ev.filter(col("event_type") === "purchase" &&
        pmod(col("event_id"), lit(5L)) === 0L)
      .select(col("event_id").as("win_id"), col("ts").as("wts"))
      .createOrReplaceTempView("graft_x110_windows")
    ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("ts").as("cts"))
      .createOrReplaceTempView("graft_x110_clicks")
    (child, child.sql(
      """SELECT c.click_id, w.win_id
        |FROM graft_x110_clicks c FULL JOIN graft_x110_windows w
        |  ON c.cts BETWEEN w.wts - INTERVAL '5' MINUTE
        |               AND w.wts + INTERVAL '5' MINUTE""".stripMargin))
  }

  /** The x110 aggregation over [[rangeJoinFullOuterFrame]] — see that
    * helper's scaladoc for the join's construction.
    */
  def rangeJoinFullOuter(spark: SparkSession, dir: String): DataFrame = {
    val s = spark; import s.implicits._
    val (_, joined) = rangeJoinFullOuterFrame(spark, dir)
    val rows = joined
      .groupBy(when(col("click_id").isNull, "window_only")
        .when(col("win_id").isNull, "click_only")
        .otherwise("matched").as("kind"))
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("click_id")).as("n_clicks"),
        countDistinct(col("win_id")).as("n_windows"))
      .collect() // bounded: <= 3 kind rows
    rows.toSeq
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toDF("kind", "n_rows", "n_clicks", "n_windows")
      .orderBy("kind")
  }

  /** DECIMAL-axis range join through the optimizer rewrite (x118):
    * orders rolled into fixed decimal price bands via the naive SQL
    * `price BETWEEN b.lo AND b.hi` a user types over DECIMAL(15,2)
    * columns — prices are the dominant non-time range axis, and before
    * the DECIMAL extension the rule silently left such joins as
    * BroadcastNestedLoopJoins (axisKind -1). The rule buckets on the
    * UNSCALED long view of the decimal (a scale-2 price in cents), so
    * `binSize` here is in cents: 100000 = the $1000 band span. Revenue
    * follows the cross-engine money contract; band starts are exact
    * multiples of $5000, so their double rendering is exact. The DOUBLE
    * source price canonicalizes to cents via the pure-IEEE
    * `floor(v*100 + 0.5)` BEFORE becoming a decimal (both engines,
    * round 15): banding then never depends on cross-engine
    * float->decimal half-rounding agreement, whatever the data.
    */
  def rangeJoinDecimalFrame(spark: SparkSession, dir: String)
      : (SparkSession, DataFrame) = {
    val child = spark.newSession()
    child.experimental.extraOptimizations =
      child.experimental.extraOptimizations :+
        graft.plans.RangeJoinRewrite(child)
    child.conf.set("spark.graft.rangeJoin.binSize", "100000") // cents
    // rewrite-path benchmark: guard off so the pin holds at every SF
    child.conf.set("spark.graft.rangeJoin.smallSideBytes", "0")
    // canonical cents FIRST (pure-IEEE floor(v*100 + 0.5), the
    // Reconcile.elementEncode rounding both engines compute
    // bit-identically), THEN the exact cents -> DECIMAL(15,2) product:
    // a direct DOUBLE -> DECIMAL cast would lean on shortest-string-vs-
    // binary-value half-rounding agreement, which only holds while the
    // fixture's prices are exact 2dp values
    t(child, dir, "orders")
      .select(col("o_orderkey"),
        (floor(col("o_totalprice") * 100 + 0.5).cast("decimal(18,0)") *
          lit(new java.math.BigDecimal("0.01")))
          .cast("decimal(15,2)").as("price"))
      .createOrReplaceTempView("graft_x118_orders")
    child.sql(
      """SELECT CAST(s AS DECIMAL(15,2)) AS lo,
        |  CAST(s + 999.99 AS DECIMAL(15,2)) AS hi
        |FROM (SELECT explode(sequence(0, 550000, 5000)) AS s)"""
        .stripMargin)
      .createOrReplaceTempView("graft_x118_bands")
    (child, child.sql(
      """SELECT CAST(b.lo AS DOUBLE) AS band_lo,
        |  COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o.price AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM graft_x118_orders o JOIN graft_x118_bands b
        |  ON o.price BETWEEN b.lo AND b.hi
        |GROUP BY b.lo
        |ORDER BY band_lo""".stripMargin))
  }

  /** The x118 result over [[rangeJoinDecimalFrame]] — the frame is
    * shared with the plan-pinning spec so the pin always covers the
    * shipped query's exact shape.
    */
  def rangeJoinDecimal(spark: SparkSession, dir: String): DataFrame =
    rangeJoinDecimalFrame(spark, dir)._2

  /** DECIMAL-axis interval-OVERLAP RIGHT OUTER through the optimizer
    * rewrite (x130) — the last two cells of the shape × join-type
    * matrix in one query: each order carries a ±$200 price interval,
    * every $25,000-step fixed band must appear (RIGHT OUTER preserves
    * the bands), and the naive two-sided inequality a user types
    * (`o.lo <= b.hi AND b.lo <= o.hi`) re-plans bucketized on the
    * UNSCALED cents view with the unmatched bands value-complemented
    * back null-extended. Prices canonicalize to cents exactly as x118.
    * Empty high bands prove the outer semantics (n_orders = 0).
    */
  private[graft] def rangeJoinDecimalOverlapFrame(spark: SparkSession,
      dir: String): (SparkSession, DataFrame) = {
    val child = spark.newSession()
    child.experimental.extraOptimizations =
      child.experimental.extraOptimizations :+
        graft.plans.RangeJoinRewrite(child)
    child.conf.set("spark.graft.rangeJoin.binSize", "100000") // cents
    // rewrite-path benchmark: guard off so the pin holds at every SF
    child.conf.set("spark.graft.rangeJoin.smallSideBytes", "0")
    t(child, dir, "orders")
      .select(col("o_orderkey"),
        (floor(col("o_totalprice") * 100 + 0.5).cast("decimal(18,0)") *
          lit(new java.math.BigDecimal("0.01")))
          .cast("decimal(15,2)").as("price"))
      .select(col("o_orderkey"), col("price"),
        (col("price") - 200).cast("decimal(15,2)").as("lo"),
        (col("price") + 200).cast("decimal(15,2)").as("hi"))
      .createOrReplaceTempView("graft_x130_orders")
    child.sql(
      """SELECT CAST(s AS DECIMAL(15,2)) AS lo,
        |  CAST(s + 999.99 AS DECIMAL(15,2)) AS hi
        |FROM (SELECT explode(sequence(0, 550000, 25000)) AS s)"""
        .stripMargin)
      .createOrReplaceTempView("graft_x130_bands")
    (child, child.sql(
      """SELECT CAST(b.lo AS DOUBLE) AS band_lo,
        |  COUNT(o.o_orderkey) AS n_orders,
        |  CAST(SUM(CAST(o.price AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_price
        |FROM graft_x130_orders o RIGHT JOIN graft_x130_bands b
        |  ON o.lo <= b.hi AND b.lo <= o.hi
        |GROUP BY b.lo
        |ORDER BY band_lo""".stripMargin))
  }

  /** The x130 result over [[rangeJoinDecimalOverlapFrame]] (shared with
    * the plan pin, like every rewrite-path query).
    */
  def rangeJoinDecimalOverlap(spark: SparkSession, dir: String): DataFrame =
    rangeJoinDecimalOverlapFrame(spark, dir)._2

  /** Shared builder for the EXISTS / NOT EXISTS interval queries (x119 /
    * x120): clicks WITH (semi) or WITHOUT (anti) a covering ±15-minute
    * window around any sparse purchase (event_id % 5 = 0), written as
    * the naive correlated-subquery SQL a user types. Catalyst's
    * RewritePredicateSubquery plans these as LEFT SEMI / LEFT ANTI joins
    * with the range condition — which Spark alone executes as a
    * BroadcastNestedLoopJoin — and [[graft.plans.RangeJoinRewrite]]
    * re-plans as the bucketized inner core semi/anti-joined back by
    * value. The anti form is the interval twin of the reference's
    * orphan check (/root/reference/src/pipeline.py:231-235).
    */
  private[graft] def rangeJoinExistenceFrame(spark: SparkSession,
      dir: String, negated: Boolean, tag: String)
      : (SparkSession, DataFrame) = {
    val child = spark.newSession()
    child.experimental.extraOptimizations =
      child.experimental.extraOptimizations :+
        graft.plans.RangeJoinRewrite(child)
    // ±15-minute windows: bucket width = the window span, in micros
    child.conf.set("spark.graft.rangeJoin.binSize",
      (30L * 60L * 1000000L).toString)
    // rewrite-path benchmark: guard off so the pin holds at every SF
    child.conf.set("spark.graft.rangeJoin.smallSideBytes", "0")
    val ev = graft.Tables.events(child, dir)
      .select(col("event_id"), col("event_type"), col("ts"))
    ev.filter(col("event_type") === "purchase" &&
        pmod(col("event_id"), lit(5L)) === 0L)
      .select(col("event_id").as("win_id"), col("ts").as("wts"))
      .createOrReplaceTempView(s"graft_${tag}_windows")
    ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("ts").as("cts"))
      .createOrReplaceTempView(s"graft_${tag}_clicks")
    val not = if (negated) "NOT " else ""
    (child, child.sql(
      s"""SELECT c.click_id FROM graft_${tag}_clicks c
         |WHERE ${not}EXISTS (
         |  SELECT 1 FROM graft_${tag}_windows w
         |  WHERE c.cts BETWEEN w.wts - INTERVAL '15' MINUTE
         |                  AND w.wts + INTERVAL '15' MINUTE)"""
        .stripMargin))
  }

  /** SEMI range join through the optimizer rewrite (x119): clicks WITH
    * a covering purchase window, via naive `EXISTS` SQL — see
    * [[rangeJoinExistenceFrame]]. Rolled up per click bucket (<= 8
    * driver rows); the oracle replays the correlated EXISTS in DuckDB
    * at micro precision.
    */
  def rangeJoinSemi(spark: SparkSession, dir: String): DataFrame = {
    val s = spark; import s.implicits._
    val (_, kept) = rangeJoinExistenceFrame(spark, dir,
      negated = false, tag = "x119")
    val rows = kept
      .groupBy(pmod(col("click_id"), lit(8L)).as("bucket"))
      .agg(count(lit(1)).as("n_clicks"))
      .collect() // bounded: <= 8 bucket rows
    rows.toSeq.map(r => (r.getLong(0), r.getLong(1)))
      .toDF("bucket", "n_clicks")
      .orderBy("bucket")
  }

  /** ANTI range join through the optimizer rewrite (x120): clicks
    * WITHOUT a covering purchase window — the interval form of the
    * reference's own orphan check — via naive `NOT EXISTS` SQL; see
    * [[rangeJoinExistenceFrame]]. Rolled up per click bucket (<= 8
    * driver rows); the oracle replays the correlated NOT EXISTS in
    * DuckDB at micro precision.
    */
  def rangeJoinAnti(spark: SparkSession, dir: String): DataFrame = {
    val s = spark; import s.implicits._
    val (_, kept) = rangeJoinExistenceFrame(spark, dir,
      negated = true, tag = "x120")
    val rows = kept
      .groupBy(pmod(col("click_id"), lit(8L)).as("bucket"))
      .agg(count(lit(1)).as("n_clicks"))
      .collect() // bounded: <= 8 bucket rows
    rows.toSeq.map(r => (r.getLong(0), r.getLong(1)))
      .toDF("bucket", "n_clicks")
      .orderBy("bucket")
  }

  /** Keyed table reconciliation (x111): orders vs a deterministically
    * perturbed copy (keys % 13 dropped, totalprice bumped on keys % 7,
    * negated-key rows added) — the exact diff a migration runs before
    * cutover. [[graft.operators.Reconcile.diffSummary]] classifies every
    * key via ONE full-outer hash join and counts per-column value diffs
    * among both-present rows in the same pass; the oracle replays the
    * join and null-safe comparisons verbatim in DuckDB.
    */
  def reconcileDiffQ(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir, "orders")
    val perturbed = o
      .filter(pmod(col("o_orderkey"), lit(13L)) =!= 0L)
      .withColumn("o_totalprice",
        when(pmod(col("o_orderkey"), lit(7L)) === 0L,
          col("o_totalprice") + 1.0).otherwise(col("o_totalprice")))
      .unionByName(o.filter(pmod(col("o_orderkey"), lit(11L)) === 0L)
        .withColumn("o_orderkey", -col("o_orderkey")))
    graft.operators.Reconcile.diffSummary(o, perturbed, Seq("o_orderkey"))
      .orderBy("metric")
  }

  /** Reconciliation diff EXAMPLES (x121): after x111's summary names
    * WHICH metrics differ, [[graft.operators.Reconcile.diffExamples]]
    * shows concrete rows — up to 5 per differing column (key + both
    * values through the profiler's engine-stable renderings) AND up to
    * 5 example keys per membership metric (only_in_a / only_in_b,
    * values null), smallest rendered key first (a total,
    * engine-replayable order). Perturbation: totalprice bumped on keys
    * % 7, priority rewritten on keys % 23, keys % 13 DROPPED
    * (only_in_a) and negated % 11 keys ADDED (only_in_b), so every
    * example family is populated. Output ≤ (columns + 2) × 5 rows; the
    * per-metric top-5 plans with a WindowGroupLimit pre-limit.
    */
  def reconcileExamplesQ(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir, "orders")
    val perturbed = o
      .filter(pmod(col("o_orderkey"), lit(13L)) =!= 0L)
      .withColumn("o_totalprice",
        when(pmod(col("o_orderkey"), lit(7L)) === 0L,
          col("o_totalprice") + 1.0).otherwise(col("o_totalprice")))
      .withColumn("o_orderpriority",
        when(pmod(col("o_orderkey"), lit(23L)) === 0L, lit("9-BOGUS"))
          .otherwise(col("o_orderpriority")))
      .unionByName(o.filter(pmod(col("o_orderkey"), lit(11L)) === 0L)
        .withColumn("o_orderkey", -col("o_orderkey")))
    graft.operators.Reconcile.diffExamples(o, perturbed,
      Seq("o_orderkey"), maxPerCol = 5)
      .orderBy("col_name", "key_s")
  }

  /** Per-group quantile profile (x122): order-total distribution cuts
    * per priority class — [[graft.operators.Profile
    * .groupedQuantileProfile]] with `exact = true` (the oracle-grade
    * opt-in; the sketch default is the 100 TB path, x109's scaladoc
    * carries the memory contract). Interpolation is bit-identical
    * across engines (the x109 law), so the oracle compares full
    * doubles.
    */
  def groupedQuantilesQ(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.groupedQuantileProfile(t(spark, dir, "orders"),
      "o_orderpriority", Seq("o_totalprice"), exact = true)
      .orderBy("o_orderpriority", "col_name", "p")

  /** Portable column checksums (x112): per-column multiset fingerprints
    * of lineitem from ONE aggregation —
    * [[graft.operators.Reconcile.columnChecksums]]'s engine-portable
    * encoding (exact numeric canonicalizations; the DSIR codepoint fold
    * for strings) summed order-independently, so the 100 TB form
    * compares two tables by comparing a handful of longs. The oracle
    * replays every encoding verbatim in DuckDB.
    */
  def columnChecksumsQ(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Reconcile.columnChecksums(t(spark, dir, "lineitem"),
      Seq("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag",
        "l_shipdate"))
      .orderBy("col_name")

  /** Embedding-table checksums (x126): the reconciliation fingerprints
    * over a VECTOR table — ARRAY columns fold their elements in order
    * from init 1 ([[graft.operators.Reconcile]] array encoding; float
    * components canonicalize at 6dp micro-units, where the 2dp money
    * convention would collapse everything near zero). The check a
    * re-embedded or replicated vector store runs before trusting a
    * copy. The oracle replays the element fold with `list_reduce` over
    * a prepended init.
    */
  def embeddingChecksumsQ(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Reconcile.columnChecksums(t(spark, dir, "embeddings"),
      Seq("vec_id", "embedding", "label"))
      .orderBy("col_name")

  /** Exact prefix-filter similarity self-join (x115): every document
    * pair with 3-shingle-set Jaccard >= 0.7, FULL RECALL — the
    * ground-truth complement to the MinHash-LSH candidate path (x03),
    * whose banding is recall-approximate by construction.
    * [[graft.operators.Dedup.prefixFilterPairs]] implements the
    * AllPairs/PPJoin prefix-filter bound (index only each doc's rarest
    * `n - ceil(t*n) + 1` shingles under a global frequency order, then
    * exact-verify); the oracle replays the exact all-pairs shingle
    * Jaccard in DuckDB at the same threshold.
    */
  /** Caller-owned shingle-set lifecycle for the exact ssjoin surfaces
    * (the operator is lazy/cache-neutral): pre-hash the sets ONCE and
    * persist — the operator's four plan branches read the cache instead
    * of re-running the kernel — hand them to `use` (which must FREEZE
    * its result distributed, via [[checkpointed]], so the returned frame
    * no longer depends on the cache), and release in the finally. One
    * place owns the persist/unpersist rule the smoke suite's cache-leak
    * check enforces.
    */
  private def withShingleSets[T](spark: SparkSession, dir: String)(
      use: DataFrame => T): T = {
    val sets = t(spark, dir, "documents")
      .select(col("doc_id"),
        graft.operators.Dedup.shingleHashes(col("text"), 3).as("sh"))
      .persist()
    try use(sets) finally sets.unpersist()
  }

  def prefixFilterPairsQ(spark: SparkSession, dir: String): DataFrame =
    withShingleSets(spark, dir) { sets =>
      // freeze the pair stream on executors (checkpoint files), so the
      // lazy result survives the shingle-cache release without a driver
      // round-trip — the stream is dup-rate-proportional, never
      // driver-sized at corpus scale
      checkpointed(spark, graft.operators.Dedup
        .prefixFilterPairs(sets, "sh", "doc_id", threshold = 0.7))
    }.orderBy("id_a", "id_b")

  /** Per-month column checksums (x114): the LOCALIZING reconciliation
    * tier — when x112-style whole-table fingerprints disagree,
    * [[graft.operators.Reconcile.groupedColumnChecksums]] grouped by the
    * table's natural partition key (order month) names WHICH partitions
    * diverge, so the expensive keyed diff (x111) runs only there. One
    * aggregation, shuffle bounded by groups × columns.
    */
  def groupedChecksumsQ(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Reconcile.groupedColumnChecksums(
        t(spark, dir, "orders").withColumn("month",
          date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM")),
        "month", Seq("o_orderkey", "o_totalprice", "o_orderstatus"))
      .orderBy("month", "col_name")

  /** Dedup threshold sweep (x117): how many near-dup pairs exist — and
    * how many documents the min-id winner rule would remove — at each
    * candidate Jaccard threshold. THE tuning report for picking a dedup
    * threshold: one EXACT pair stream at the loosest threshold (x115's
    * full-recall prefix-filter join at 0.5), then each tighter
    * threshold is a FILTER over that stream — one corpus pass for the
    * whole sweep, not one per threshold, and the sweep itself is a
    * single distributed aggregation (explode the 5-threshold literal
    * array against each pair, filter, group — at 100 TB the 0.5-Jaccard
    * pair stream is billions of rows and never touches the driver).
    * `n_docs_removed` counts distinct `id_b` (a doc drops iff it pairs
    * with a smaller id at >= t, the x04 winner rule). Thresholds with
    * zero qualifying pairs still report (left join back to the
    * threshold axis), so the report shape is constant.
    */
  def dedupSweepQ(spark: SparkSession, dir: String): DataFrame = {
    val s = spark; import s.implicits._
    val thresholds = Seq(0.5, 0.6, 0.7, 0.8, 0.9)
    val pairs = withShingleSets(spark, dir) { sets =>
      checkpointed(spark, graft.operators.Dedup
        .prefixFilterPairs(sets, "sh", "doc_id", threshold = 0.5))
    }
    val swept = pairs
      .select(col("jaccard"), col("id_b"),
        explode(array(thresholds.map(lit): _*)).as("threshold"))
      .where(col("jaccard") >= col("threshold"))
      .groupBy("threshold")
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("id_b")).as("n_docs_removed"))
    thresholds.toDF("threshold")
      .join(swept, Seq("threshold"), "left")
      .select(col("threshold"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_docs_removed"), lit(0L)).as("n_docs_removed"))
      .orderBy("threshold")
  }

  /** Per-group IQR outliers (x116): Tukey-fence outlier counts of order
    * totals per priority class —
    * [[graft.operators.Profile.iqrOutliers]]'s robust feed check (exact
    * grouped quartiles, broadcast fences back, one violation count).
    * Quartile interpolation is bit-identical across engines (x109), and
    * the fence arithmetic is plain double +-*, so the oracle compares
    * full doubles.
    */
  def iqrOutliersQ(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.iqrOutliers(t(spark, dir, "orders"),
        "o_orderpriority", "o_totalprice")
      .orderBy("o_orderpriority")

  /** Join-hotspot diagnostic (x113): before joining clicks to purchases
    * on user_id, which keys would dominate the OUTPUT?
    * [[graft.operators.Skew.joinHotspots]] joins the two per-side key
    * histograms and ranks by `n_left * n_right` — the pre-flight number
    * a skew decision (salt / AQE / broadcast / pre-aggregate) actually
    * needs; shuffles are key-histogram-sized and the output is bounded
    * at topN. Ties break by key ascending, so the top-20 set is
    * deterministic and the oracle replays it exactly.
    */
  def joinHotspotsQ(spark: SparkSession, dir: String): DataFrame = {
    val ev = graft.Tables.events(spark, dir)
    graft.operators.Skew.joinHotspots(
      ev.filter(col("event_type") === "click"),
      ev.filter(col("event_type") === "purchase"), "user_id", topN = 20)
  }

  /** One-pass table profile (x106): per-column null/cardinality/range
    * stats over lineitem's mixed types (long, int, double, string,
    * timestamp) from a SINGLE aggregation —
    * [[graft.operators.Profile.columnProfile]]'s multi-distinct agg
    * plans through one Expand + two aggregate phases, so profiling six
    * columns costs one table scan, not six jobs (the whole-table sweep
    * form of the reference's one-rule-at-a-time DQ checks,
    * `/root/reference/src/pipeline.py:187-246`). The oracle replays each
    * column's stats as a DuckDB UNION ALL branch with the shared
    * engine-stable renderings (DECIMAL(18,2) for doubles, second-precision
    * timestamps).
    */
  def columnProfileQ(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.columnProfile(t(spark, dir, "lineitem"),
      Seq("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag",
        "l_linestatus", "l_shipdate"))
      .orderBy("col_name")

  /** Per-source corpus profile (x107): the multi-source quality sweep —
    * one row per (source, column) over documents, catching a single bad
    * feed (null-rate spike, id-cardinality collapse) in ONE job.
    * [[graft.operators.Profile.groupedColumnProfile]] keeps the
    * single-Expand multi-distinct plan with `source` as the grouping key:
    * one scan + one shuffle for any number of profiled columns.
    */
  def groupedProfileQ(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.groupedColumnProfile(
        t(spark, dir, "documents"), "source",
        Seq("doc_id", "lang", "n_chars"))
      .orderBy("source", "col_name")

  /** Numeric histogram drift (x108): did the order-price distribution
    * move between the pre-1996 and 1996+ halves of the orders table?
    * [[graft.operators.Profile.histogramDrift]] bins both slices on
    * shared equi-width edges from the global min/max and emits exact
    * per-bin counts, fractions, and the L1 gap — the
    * population-stability check a feature pipeline runs on every new
    * partition. All arithmetic is exact-count division and linear edge
    * math, so DuckDB replays it bit-identically at full double width
    * (x57 precedent).
    */
  def histogramDriftQ(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir, "orders")
    val cut = to_timestamp(lit("1996-01-01 00:00:00"))
    graft.operators.Profile.histogramDrift(
        o.where(col("o_orderdate") < cut),
        o.where(col("o_orderdate") >= cut),
        "o_totalprice", 16)
      .orderBy("bin")
  }

  /** Quantile profile (x109): per-column p25/p50/p75/p95 cuts over
    * lineitem's numeric measures from ONE aggregation —
    * [[graft.operators.Profile.quantileProfile]] (exact `percentile`;
    * both engines interpolate `lo + (hi-lo)*(p*(n-1) - floor)`, verified
    * bit-identical, so the oracle compares full doubles). The
    * `approxQuantileProfile` sketch form is the fixed-memory 100 TB
    * path with the identical output shape.
    */
  def quantileProfileQ(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.quantileProfile(t(spark, dir, "lineitem"),
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
      .orderBy("col_name", "p")

  /** Token-distribution drift between two corpus slices — the
    * over/under-represented-vocabulary report a pipeline monitors when a
    * new crawl slice lands (C4/RefinedWeb-style corpus QA). Slices are
    * sources src0-9 (reference) vs src10-19 (candidate); for every token,
    * relative frequencies p (candidate) and q (reference) derive from
    * EXACT counts, and the report is the 20 most drifted tokens by
    * |p - q|, with a total (diff, token) order so the cut is stable.
    * Per-token arithmetic only — two exact-integer divisions and a
    * subtraction, identical IEEE in any engine — so the oracle compares
    * FULL doubles, no rounding contract needed.
    *
    * Scale shape: two word-count aggregations (map-side combined, the
    * shuffle carries (token, long)), one full outer join on token, a
    * 20-row TakeOrdered. Nothing corpus-sized crosses the wire.
    */
  def tokenDrift(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    def counts(side: DataFrame) = side
      .select(explode(TextFunctions.tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
    val isRef = col("source").isin((0 until 10).map(k => s"src$k"): _*)
    val ref = counts(docs.filter(isRef))
    val cand = counts(docs.filter(!isRef))
    val refTot = ref.agg(sum(col("cnt"))).head().getLong(0).toDouble
    val candTot = cand.agg(sum(col("cnt"))).head().getLong(0).toDouble
    cand.select(col("token"), col("cnt").as("c_cnt"))
      .join(ref.select(col("token"), col("cnt").as("r_cnt")), Seq("token"),
        "full_outer")
      .select(col("token"),
        (coalesce(col("c_cnt"), lit(0L)) / candTot).as("p"),
        (coalesce(col("r_cnt"), lit(0L)) / refTot).as("q"))
      .withColumn("drift", abs(col("p") - col("q")))
      .orderBy(desc("drift"), col("token"))
      .limit(20)
      .select(col("token"), col("p"), col("q"), col("drift"))
  }

  /** Cluster-balanced diversity sampling, law-checked
    * ([[Similarity.diversitySampleWith]], perCluster=20 over 16 cells):
    * k-means cell assignment and per-cell prototypicality are
    * engine-specific floats, so the constant DuckDB oracle verifies the
    * LAWS a correct selection cannot break — every cell within its cap,
    * every cell exactly full (min(cell size, cap) picks), picks distinct
    * and a subset of the corpus, and within every cell the worst PICKED
    * prototypicality >= the best UNPICKED one (the defining property of
    * top-k selection; a broken ranking, a lost merge, or a Window-to-agg
    * refactor bug flips it). n_corpus anchors the row to data DuckDB can
    * replicate.
    */
  def diversitySampleLaws(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    val cap = 20
    val (picksDf, assignedDf) = graft.operators.Similarity
      .diversitySampleWith(emb, perCluster = cap, nClusters = 16)
    val picks = picksDf.persist()
    val assigned = assignedDf.persist()
    val overall = picks.agg(count(lit(1)).as("n"),
      countDistinct(col("vec_id")).as("nd")).head()
    val subsetViolations = picks
      .join(assigned.select("vec_id"), Seq("vec_id"), "left_anti").count()
    val perCell = assigned.groupBy("cell")
      .agg(count(lit(1)).as("ncell"))
      .join(picks.groupBy("cell").agg(count(lit(1)).as("npick"),
        min("proto").as("minp")), Seq("cell"), "left")
      .join(assigned.join(picks.select("vec_id"), Seq("vec_id"), "left_anti")
        .groupBy("cell").agg(max("proto").as("maxu")), Seq("cell"), "left")
    val laws = perCell.agg(
      sum(when(coalesce(col("npick"), lit(0L)) >
        least(col("ncell"), lit(cap.toLong)), 1L).otherwise(0L)).as("over"),
      sum(when(coalesce(col("npick"), lit(0L)) <
        least(col("ncell"), lit(cap.toLong)), 1L).otherwise(0L)).as("under"),
      sum(when(col("maxu").isNotNull && col("minp") < col("maxu"), 1L)
        .otherwise(0L)).as("proto_bad")).head()
    picks.unpersist(); assigned.unpersist()
    import spark.implicits._
    Seq((emb.count(),
      laws.getLong(0) == 0L,
      laws.getLong(1) == 0L,
      laws.getLong(2) == 0L,
      overall.getLong(0) == overall.getLong(1),
      subsetViolations == 0L))
      .toDF("n_corpus", "cap_ok", "full_ok", "proto_ok", "distinct_ok",
        "subset_ok")
  }

  /** Cross-corpus exact dedup ([[Dedup.crossExactDedup]]): reference =
    * docs with doc_id divisible by 3; corpus = the rest PLUS re-tagged
    * copies (doc_id + 1e6) of the reference docs below id 30 — planted
    * overlap so the bloom-pruned anti join removes rows at EVERY scale
    * (the corpus's own cross-split exact dups appear only at sf0.1).
    * Survivors are corpus docs whose text never appears in the reference.
    */
  def crossDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents").select(col("doc_id"), col("text"))
    val ref = docs.filter(col("doc_id") % 3 === 0)
    val planted = ref.filter(col("doc_id") < 30)
      .withColumn("doc_id", col("doc_id") + 1000000L)
    val corpus = docs.filter(col("doc_id") % 3 =!= 0).unionByName(planted)
    Dedup.crossExactDedup(corpus, ref, "text", "doc_id")
      .select(col("doc_id"))
      .orderBy("doc_id")
  }

  /** Cross-corpus NEAR-dedup ([[Dedup.crossMinhashDedup]]): same
    * reference/corpus split as x55, but the planted overlap is
    * near-verbatim, not exact — reference docs below id 30 re-enter the
    * corpus with three appended tokens (shingle Jaccard n/(n+3) ≈ 0.9+
    * for typical lengths, where the 16×4 LSH s-curve is deterministic;
    * SHORT planted docs fall below 0.8 and legitimately survive). The
    * oracle replays the split and the exact-Jaccard >= 0.8 rule natively,
    * so LSH recall on every qualifying cross pair — planted AND the
    * corpus's natural near-dups that straddle the split — is under test.
    */
  def crossNearDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents").select(col("doc_id"), col("text"))
    val ref = docs.filter(col("doc_id") % 3 === 0)
    val planted = ref.filter(col("doc_id") < 30)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(col("text"), lit(" graft cross probe")).as("text"))
    val corpus = docs.filter(col("doc_id") % 3 =!= 0).unionByName(planted)
    Dedup.crossMinhashDedup(corpus, ref, "text", "doc_id", threshold = 0.8)
      .select(col("doc_id"))
      .orderBy("doc_id")
  }

  /** Winnowing fingerprint overlap ([[graft.operators.Winnow]], the MOSS
    * span-copy detector): document pairs sharing >= 2 window-min k-gram
    * fingerprints. Fully portable (MD5 gram hashes, lexicographic window
    * minima) — the oracle replays the entire selection, so the winnowing
    * pipeline (grams → hashes → window minima → distinct → overlap join)
    * is value-checked end to end.
    */
  def winnowOverlap(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Winnow.overlapPairs(
      t(spark, dir, "documents"), "text", "doc_id",
      k = 4, w = 4, minShared = 2)
      .orderBy("id_a", "id_b")

  /** All-pairs shingle-TF cosine similarity
    * ([[graft.operators.TextRank.shingleCosinePairs]]): pairs at
    * cosine >= 0.5 with the exact integer dot product. maxDf = 20
    * exercises the posting-cap path at sf0.1 (max observed df 25) while
    * the survivor set is cap-invariant there — the dropped ubiquitous
    * shingles contribute to no >= 0.5 pair.
    */
  def cosinePairs(spark: SparkSession, dir: String): DataFrame =
    graft.operators.TextRank.shingleCosinePairs(
      t(spark, dir, "documents"), "text", "doc_id",
      shingleK = 3, maxDf = 20, minSim = 0.5)
      .orderBy("id_a", "id_b")

  /** Ordered 3-step event funnel ([[graft.operators.Funnel]]):
    * view → click → purchase with a 24-hour per-step attribution window,
    * exact integer-microsecond edges.
    */
  def eventFunnel(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Funnel.conversion(events(spark, dir),
      "user_id", "ts", "event_type", Seq("view", "click", "purchase"))

  /** Weekly cohort retention ([[graft.operators.Retention]]): users
    * grouped by first-activity week, distinct-active counts per week
    * offset, exact integer period flooring + one exact ratio per cell.
    */
  def retentionCohorts(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Retention.cohorts(events(spark, dir), "user_id", "ts")
      .orderBy("cohort_period", "period_offset")

  /** Per-document top-5 TF-IDF keywords
    * ([[graft.operators.TextRank.tfidfKeywords]]): exact integer tf/df,
    * smoothed idf behind 4dp rounding, term-string tiebreak — the fully
    * total-ordered selection the oracle replays.
    */
  def tfidfKeywords(spark: SparkSession, dir: String): DataFrame =
    graft.operators.TextRank.tfidfKeywords(
      t(spark, dir, "documents"), "text", "doc_id", k = 5)
      .orderBy("doc_id", "rank")

  /** Event-type Markov transition matrix ([[graft.operators.Funnel
    * .transitionMatrix]]): exact consecutive-pair counts per user in
    * total (ts,id) order, one exact-ratio probability per cell.
    */
  def eventTransitions(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Funnel.transitionMatrix(events(spark, dir),
      "user_id", "ts", "event_id", "event_type")
      .orderBy("cur", "next")

  /** Trailing z-score anomaly detection ([[graft.operators.Anomaly]]):
    * hourly event-type volumes scored against their trailing 24h window
    * — exact counts behind one 6dp-rounded mean/z per row.
    */
  def eventAnomalies(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Anomaly.hourlyZScores(events(spark, dir))
      .orderBy("event_type", "period_start")

  /** Session path analysis ([[graft.operators.Sessionize.topPaths]]):
    * top-10 "user journey" event-type sequences (first 5 steps per
    * 30-minute-gap session, (ts,id)-ordered), with exact counts.
    */
  def sessionPaths(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Sessionize.topPaths(events(spark, dir))

  /** SCD Type-2 dimension build ([[graft.operators.Scd.scd2]]): each
    * user's event stream becomes attribute-regime intervals over the
    * tracked `event_type` — a new interval opens per (ts, event_id)-
    * ordered change, closes at the next open, last one per key stays
    * current. The oracle replays the lag-filter-lead pipeline verbatim.
    */
  def scd2Dimension(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Scd.scd2(events(spark, dir), "user_id",
      Seq("event_type"), "ts", "event_id")
      .select(col("user_id"), col("event_type").as("segment"),
        col("eff_from"), col("eff_to"), col("is_current"), col("version"))
      .orderBy("user_id", "version")

  /** Point-in-time enrichment against the SCD2 dimension — the consumer
    * the interval table exists for (Kimball's "fact joins the dimension
    * version that was current at the fact's own timestamp"): the same
    * event stream that built x81's intervals enriches against them via
    * the as-of join ([[graft.operators.AsOfJoin.backward]] on eff_from,
    * version tiebreak for zero-length tie intervals), then rolls up to
    * (segment, event_type) counts. Scale shape: the dim build's one
    * user-keyed shuffle plus the as-of join's one — no interval
    * replication, no window over facts.
    */
  def scd2Enrichment(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    val dim = graft.operators.Scd.scd2(ev, "user_id",
      Seq("event_type"), "ts", "event_id")
      .select(col("user_id"), col("event_type").as("segment"),
        col("eff_from"), col("version"))
    val enriched = graft.operators.AsOfJoin.backward(
      ev.select("user_id", "ts", "event_type"), dim,
      keys = Seq("user_id"), leftTs = "ts", rightTs = "eff_from",
      payload = Seq("segment"), rightTiebreak = Some("version"))
    enriched
      .groupBy(col("segment"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy("segment", "event_type")
  }

  /** Concurrent-session detection via the interval x interval overlap
    * join ([[graft.operators.RangeJoin.intervalOverlap]]): sessions of a
    * deterministic tracked cohort (user_id % 20 == 0) paired with every
    * OTHER user's session active at the same time (closed-interval
    * overlap, realized as half-open on end+1us so single-event sessions
    * still pair), rolled up per cohort user. Scale shape: both interval
    * sets replicate only to the hour buckets they touch and the
    * emit-once guard needs no post-join distinct — the shuffle is a hash
    * partition on the bucket, never |sessions|^2.
    */
  def concurrentSessions(spark: SparkSession, dir: String): DataFrame = {
    val sess = graft.operators.Sessionize
      .aggregate(events(spark, dir), gapSeconds = 1800L)
      .select(col("user_id"),
        unix_micros(col("session_start")).as("s_us"),
        (unix_micros(col("session_end")) + 1).as("e_us"))
    val cohort = sess.filter(col("user_id") % 20 === 0)
    val others = sess.filter(col("user_id") % 20 =!= 0)
      .select(col("user_id").as("o_user"), col("s_us").as("os_us"),
        col("e_us").as("oe_us"))
    graft.operators.RangeJoin.intervalOverlap(
      cohort, others, "s_us", "e_us", "os_us", "oe_us",
      bucketWidth = 3600L * 1000000L)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_concurrent"),
        countDistinct(col("o_user")).as("n_users"))
      .orderBy("user_id")
  }

  /** ANTI overlap join through the optimizer rewrite (x125): cohort
    * sessions with NO concurrent session from any NON-COHORT user (the
    * probe side is x91's `others` frame — users outside the 5% cohort —
    * so an overlap between two cohort members does not disqualify) —
    * "isolated sessions", the NOT EXISTS form of x91's overlap join —
    * written as the naive correlated SQL a user types over the
    * sessionized frames. Catalyst plans it as a LEFT ANTI join with the
    * two-sided overlap inequality (BNLJ without the rule);
    * [[graft.plans.RangeJoinRewrite]] re-plans the overlap core
    * bucketized and anti-joins the distinct preserved tuples back by
    * value. Rolled up per user bucket (<= 8 driver rows); the oracle
    * replays sessionization (the x91 CTE) and the correlated NOT EXISTS
    * in DuckDB at micro precision.
    */
  private[graft] def rangeJoinAntiOverlapFrame(spark: SparkSession,
      dir: String): (SparkSession, DataFrame) = {
    val child = spark.newSession()
    child.experimental.extraOptimizations =
      child.experimental.extraOptimizations :+
        graft.plans.RangeJoinRewrite(child)
    child.conf.set("spark.graft.rangeJoin.binSize",
      (3600L * 1000000L).toString)
    // rewrite-path benchmark: guard off so the pin holds at every SF
    child.conf.set("spark.graft.rangeJoin.smallSideBytes", "0")
    val sess = graft.operators.Sessionize
      .aggregate(Tables.events(child, dir), gapSeconds = 1800L)
      .select(col("user_id"),
        unix_micros(col("session_start")).as("s_us"),
        unix_micros(col("session_end")).as("e_us"))
    sess.filter(col("user_id") % 20 === 0)
      .createOrReplaceTempView("graft_x125_cohort")
    sess.filter(col("user_id") % 20 =!= 0)
      .select(col("user_id").as("o_user"), col("s_us").as("os_us"),
        col("e_us").as("oe_us"))
      .createOrReplaceTempView("graft_x125_others")
    (child, child.sql(
      """SELECT c.user_id, c.s_us FROM graft_x125_cohort c
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM graft_x125_others o
        |  WHERE c.s_us <= o.oe_us AND o.os_us <= c.e_us)""".stripMargin))
  }

  def rangeJoinAntiOverlap(spark: SparkSession, dir: String): DataFrame = {
    val s = spark; import s.implicits._
    val (_, kept) = rangeJoinAntiOverlapFrame(spark, dir)
    val rows = kept
      .groupBy(pmod(col("user_id"), lit(8L)).as("bucket"))
      .agg(count(lit(1)).as("n_isolated"),
        countDistinct(col("user_id")).as("n_users"))
      .collect() // bounded: <= 8 bucket rows
    rows.toSeq.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toDF("bucket", "n_isolated", "n_users")
      .orderBy("bucket")
  }

  /** Label-conditioned embedding outliers ([[graft.operators.Similarity
    * .labelOutliers]]): the 5 vectors per label least cosine-similar to
    * their own label's exact centroid — the mislabeled-example screen.
    * The oracle rebuilds centroids with parallel-unnest AVG and replays
    * the 4dp-rounded rank cut.
    */
  def labelOutliersQ(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Similarity.labelOutliers(
      t(spark, dir, "embeddings"), k = 5, dim = 64)
      .orderBy("label", "rank")

  /** EWMA volume smoothing ([[graft.operators.Anomaly.ewmaSmooth]]):
    * hourly per-type counts smoothed by the alpha=0.2 recurrence inside
    * the [[graft.functions.expr.EwmaScanExpr]] scan kernel; the oracle
    * replays the identical left-fold as a DuckDB recursive CTE (bitwise
    * IEEE agreement behind 6dp rounding).
    */
  def eventEwma(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Anomaly.ewmaSmooth(events(spark, dir))
      .orderBy("event_type", "period_start")

  /** PCA over the embedding corpus ([[graft.operators.Pca]]): one
    * distributed moments pass + driver Jacobi solve, k=8 of 64 dims,
    * then a second pass proving the model laws hold against the data:
    * eigenvalues descend, kept components are orthonormal, per-component
    * variance of the kernel-projected corpus equals its eigenvalue, and
    * explained ratios sum below 1. `trace` (= total variance, Σ all 64
    * eigenvalues) is the data-dependent value the oracle re-derives
    * per-dimension in SQL; 4dp absorbs partition-merge-order ulps.
    */
  def pcaEmbeddings(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Pca
    val vecs = t(spark, dir, "embeddings")
    val k = 8
    val model = Pca.fit(vecs, "embedding", k, dim = 64)
    val eps = 1e-6
    val monotone = model.eigenvalues.sliding(2).forall(p =>
      p.length < 2 || p(0) >= p(1) - eps)
    val orthonormal = (0 until k).forall { i =>
      (i until k).forall { j =>
        val dot = model.components(i).zip(model.components(j))
          .map { case (a, b) => a * b }.sum
        math.abs(dot - (if (i == j) 1.0 else 0.0)) < 1e-8
      }
    }
    // second corpus pass: population variance of each projected
    // coordinate must reproduce the model's eigenvalue
    val proj = vecs.select(
      Pca.project(col("embedding"), model).as("p"))
    val varRow = proj.select((0 until k).map(i =>
      var_pop(col("p")(i)).as(s"v$i")): _*).head()
    val projVarOk = (0 until k).forall { i =>
      math.abs(varRow.getDouble(i) - model.eigenvalues(i)) <=
        eps * math.max(1.0, model.eigenvalues(i))
    }
    val explainedOk = {
      val r = model.explainedRatios
      r.forall(x => x > 0.0 && x < 1.0) && r.sum < 1.0 + eps
    }
    import spark.implicits._
    // HALF_UP, matching DuckDB's round-half-away (math.rint would tie to
    // even — a latent boundary mismatch, however improbable on a sum)
    val trace4 = BigDecimal(model.trace)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    Seq((model.n, model.dim.toLong, trace4,
      monotone, orthonormal, projVarOk, explainedOk))
      .toDF("n_vecs", "dim", "trace", "monotone_ok", "orthonormal_ok",
        "projvar_ok", "explained_ok")
  }

  /** Cross-format round trip ([[graft.sources.Formats]]): documents
    * written to and read back from ORC and JSON Lines, fingerprinted
    * (order-insensitive Σ xxhash64 over all columns) against the parquet
    * original — one row per format with the count, byte totals the
    * oracle re-derives from parquet, and the Spark-side losslessness
    * verdict.
    */
  def formatRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Formats
    val docs = t(spark, dir, "documents")
      .select("doc_id", "text", "lang", "source", "n_chars")
    val root = java.nio.file.Files.createTempDirectory("graft-x84")
    try {
      val base = Formats.fingerprint(docs)
      import spark.implicits._
      Seq("orc", "json").map { fmt =>
        val back = Formats.roundTrip(spark, docs, s"$root/$fmt", fmt)
        val r = back.agg(count(lit(1)), sum(col("n_chars")),
          sum(length(col("text")))).head()
        (fmt, r.getLong(0), r.getLong(1), r.getLong(2),
          Formats.fingerprint(back).compareTo(base) == 0)
      }.toDF("format", "n", "sum_chars", "sum_text_len", "lossless")
        .orderBy("format")
    } finally {
      // the result frame above is already materialized (driver rows), so
      // deleting the scratch dir here is safe
      org.apache.commons.io.FileUtils.deleteQuietly(root.toFile)
    }
  }

  /** Market-basket association rules ([[graft.operators.MarketBasket
    * .rules]]): parts bought together across orders — exact pair/item/
    * transaction counts, one exact-ratio division per measure, top-100
    * by (lift desc, antecedent, consequent).
    */
  def assocRules(spark: SparkSession, dir: String): DataFrame =
    graft.operators.MarketBasket.rules(
      t(spark, dir, "lineitem").filter(col("l_orderkey") % 2 === 0),
      "l_orderkey", "l_partkey", minSupport = 3L)
      .orderBy(col("lift").desc, col("antecedent"), col("consequent"))
      .limit(100)

  /** OHLC resampling ([[graft.operators.TimeSeries.ohlcBars]]): hourly
    * candlesticks of the event `value` stream per type — open/close by
    * the (ts, id) total order, decimal-exact volume sum.
    */
  def ohlcBars(spark: SparkSession, dir: String): DataFrame =
    graft.operators.TimeSeries.ohlcBars(events(spark, dir))
      .orderBy("event_type", "period_start")

  /** PMI collocations ([[graft.operators.NgramLm.collocations]]):
    * top-50 adjacent token pairs by pointwise mutual information with
    * the low-count tail suppressed — the oracle replays counts and the
    * mirrored double formula behind 6dp rounding.
    */
  def collocationsQ(spark: SparkSession, dir: String): DataFrame =
    graft.operators.NgramLm.collocations(
      t(spark, dir, "documents"), "text", "doc_id")

  /** Change-data feed ([[graft.sources.VersionedTable.changeFeed]]):
    * build a versioned orders table, apply a deterministic merge
    * (price-bump updates on key%10==3, negated-key inserts for
    * key%100==7) and a delete (key%10==4), then read the v0→v2 CDC feed
    * and aggregate it per change type — exact counts, exact key sums,
    * decimal-exact price sums the oracle re-derives from the raw orders
    * table with the same arithmetic. Updates must emit BOTH images.
    */
  def changeFeedQ(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.VersionedTable
    val root = java.nio.file.Files.createTempDirectory("graft-x88")
      .toString + "/tbl"
    try {
      // a deterministic 1/3 slice: the CDC semantics are fully exercised
      // by any table; the three full-table version writes are pure bench
      // IO, so they need not be the whole fact table (oracle mirrors the
      // slice filter)
      val base = t(spark, dir, "orders")
        .filter(col("o_orderkey") % 3 === 0)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"))
      VersionedTable.init(base, root)
      val ups = base.filter(col("o_orderkey") % 10 === 3)
        .withColumn("o_totalprice", col("o_totalprice") + 1.0)
      val ins = base.filter(col("o_orderkey") % 100 === 7)
        .withColumn("o_orderkey", -col("o_orderkey"))
      VersionedTable.merge(spark, root, ups.unionByName(ins),
        Seq("o_orderkey"))
      VersionedTable.delete(spark, root,
        base.filter(col("o_orderkey") % 10 === 4).select("o_orderkey"),
        Seq("o_orderkey"))
      val rows = VersionedTable.changeFeed(spark, root, 0, 2,
        Seq("o_orderkey"))
        .groupBy("_change_type")
        .agg(count(lit(1)).as("n"),
          sum(col("o_orderkey")).as("key_sum"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
            .as("price_sum"))
        .orderBy("_change_type")
        .collect() // bounded: <= 3 change-type rows
      import spark.implicits._
      rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq
        .toDF("_change_type", "n", "key_sum", "price_sum")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(root).getParentFile)
    }
  }

  /** CDC → SCD2 composition (x133): the same three-version orders table
    * as [[changeFeedQ]] (init → merge upserts+inserts → delete),
    * materialized whole through [[graft.sources.VersionedTable
    * .scd2History]] — per-key version-interval rows with deletes
    * closing runs — then folded to one row per (ver_from, ver_to)
    * lifecycle class with exact counts, key sums, and decimal-exact
    * price sums the oracle re-derives from raw orders with the same
    * edit arithmetic. Expected classes: [0,null] untouched keys,
    * [0,0]+[1,null] updated keys (old and new image), [0,1] deleted
    * keys, with the v1 inserts sharing [1,null]. The collect is
    * bounded by (versions+1)^2 lifecycle classes, never corpus size.
    */
  def cdcScd2Q(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.VersionedTable
    val root = java.nio.file.Files.createTempDirectory("graft-x133")
      .toString + "/tbl"
    try {
      val base = t(spark, dir, "orders")
        .filter(col("o_orderkey") % 3 === 0)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"))
      VersionedTable.init(base, root)
      val ups = base.filter(col("o_orderkey") % 10 === 3)
        .withColumn("o_totalprice", col("o_totalprice") + 1.0)
      val ins = base.filter(col("o_orderkey") % 100 === 7)
        .withColumn("o_orderkey", -col("o_orderkey"))
      VersionedTable.merge(spark, root, ups.unionByName(ins),
        Seq("o_orderkey"))
      VersionedTable.delete(spark, root,
        base.filter(col("o_orderkey") % 10 === 4).select("o_orderkey"),
        Seq("o_orderkey"))
      val rows = VersionedTable.scd2History(spark, root, Seq("o_orderkey"))
        .groupBy("ver_from", "ver_to")
        .agg(count(lit(1)).as("n"),
          sum(col("o_orderkey")).as("key_sum"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
            .as("price_sum"))
        .orderBy("ver_from", "ver_to")
        .collect() // bounded: <= (versions+1)^2 lifecycle classes
      import spark.implicits._
      rows.map(r => (r.getInt(0),
        if (r.isNullAt(1)) None else Some(r.getInt(1)),
        r.getLong(2), r.getLong(3), r.getDouble(4))).toSeq
        .toDF("ver_from", "ver_to", "n", "key_sum", "price_sum")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(root).getParentFile)
    }
  }

  /** Bloom point-lookup skipping ([[graft.sources.VersionedTable
    * .readPoint]]): a lineitem slice clustered by l_orderkey keeps a
    * per-file Bloom index on l_partkey — a column UNCORRELATED with the
    * clustering key, so min/max stats are structurally useless for it
    * (every file spans the full partkey range) while the bloom proves
    * absence per file. The probe key is the least-frequent partkey
    * (count then key tiebreak — replayed by the oracle), so it genuinely
    * lives in few files. Laws: the bloom read touches a strict subset of
    * files, and its values equal the plain filtered read exactly.
    */
  def bloomSkipping(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.VersionedTable
    val root = java.nio.file.Files.createTempDirectory("graft-x89")
      .toString + "/tbl"
    try {
      val slice = t(spark, dir, "lineitem")
        .filter(col("l_orderkey") % 10 === 0)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_quantity"))
      val base = slice
        .repartitionByRange(8, col("l_orderkey"))
        .sortWithinPartitions("l_orderkey")
      VersionedTable.init(base, root, statsColumns = Seq("l_orderkey"),
        bloomColumns = Seq("l_partkey"))
      val probeKey = slice.groupBy("l_partkey")
        .agg(count(lit(1)).as("__c"))
        .orderBy(col("__c"), col("l_partkey")).limit(1)
        .head().getLong(0)
      def aggOf(df: DataFrame) = df
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
            .as("qty_sum")).head()
      val viaBloom = aggOf(
        VersionedTable.readPoint(spark, root, "l_partkey", probeKey))
      val plain = aggOf(
        VersionedTable.read(spark, root)
          .filter(col("l_partkey") === probeKey))
      val (readFiles, totalFiles) = VersionedTable.bloomPruneCounts(
        spark, root, "l_partkey", probeKey)
      import spark.implicits._
      Seq((probeKey, viaBloom.getLong(0), viaBloom.getDouble(1),
        readFiles > 0 && readFiles < totalFiles,
        viaBloom.getLong(0) == plain.getLong(0) &&
          viaBloom.getDouble(1) == plain.getDouble(1)))
        .toDF("probe_key", "n", "qty_sum", "bloom_skips", "match_ok")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(root).getParentFile)
    }
  }

  /** Banned-phrase audit ([[graft.operators.TextPipeline
    * .flagBannedPhrases]]): the lexicon is doc 0's first 8 distinct
    * bigram phrases (derivation replayed by the oracle, the x54
    * convention), counted per document by one Aho-Corasick pass.
    */
  def bannedPhrases(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val toks0 = docs.filter(col("doc_id") === 0)
      .select(TextFunctions.tokens(col("text")).as("__t")).head()
      .getSeq[String](0)
    // filter(size == 2): sliding(2) on a 1-token list yields one size-1
    // window, which the oracle's range-based pair derivation never emits
    val phrases = toks0.sliding(2).filter(_.length == 2)
      .map(_.mkString(" ")).toSeq.distinct.take(8)
    graft.operators.TextPipeline.flagBannedPhrases(
      docs.select(col("doc_id"), col("text")), "text", phrases)
      .select(col("doc_id"), col("n_banned"))
      .orderBy("doc_id")
  }

  /** Cross-corpus containment decontamination ([[graft.operators.Dedup
    * .crossContainment]]): reference docs below id 60 re-enter the
    * corpus BURIED in 40 tokens of padding — Jaccard drops toward
    * |ref|/|host| (x63's threshold never fires) while ref-side
    * containment stays exactly 1.0. Full exact oracle over the x55
    * split.
    */
  def crossContainmentQ(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents").select(col("doc_id"), col("text"))
    val ref = docs.filter(col("doc_id") % 3 === 0)
    val planted = ref.filter(col("doc_id") < 60)
      .select((col("doc_id") + 2000000L).as("doc_id"),
        concat(col("text"), lit(" " + QueriesExt.containPad)).as("text"))
    val corpus = docs.filter(col("doc_id") % 3 =!= 0).unionByName(planted)
    graft.operators.Dedup.crossContainment(corpus, ref, "text", "doc_id",
      threshold = 0.8)
      .orderBy("corpus_id", "ref_id")
  }

  private[graft] val containPad: String =
    (1 to 40).map(i => s"pad$i").mkString(" ")

  /** TextRank keyword centrality ([[graft.operators.TextRank
    * .textrankKeywords]]): 3 damped-PageRank iterations over the token
    * co-occurrence graph, top-20 by 6dp-rounded score. The oracle
    * unrolls all three iterations in SQL with mirrored arithmetic.
    */
  def textrankCentrality(spark: SparkSession, dir: String): DataFrame =
    graft.operators.TextRank.textrankKeywords(
      t(spark, dir, "documents"), "text", topK = 20)

  /** Blocked fuzzy entity matching ([[graft.operators
    * .EntityResolution]]): customer-name pairs within 1 Levenshtein edit
    * via three complementary blocking passes (prefix-16, suffix-3,
    * skip-position-16) — for the fixed 18-char names the pass set is
    * PROVABLY lossless for substitution distance 1 (every character
    * position is outside at least one key), which
    * `EntityResolutionSpec` checks against the brute-force cross join.
    *
    * Runs through the budget-GUARDED path ([[graft.operators
    * .EntityResolution.fuzzyMatchesGuarded]], round-15): pair budget
    * 50000/block (size cap 316). At sf0.01/sf0.1 every block is under
    * the cap (max 100/150 — measured), so the guard is a no-op and the
    * oracle result is bit-identical to the lossless form; on the sf1
    * soak's suffix-degenerate names (round 14: ~100M candidate pairs,
    * 291 s, 68 GB heap from blocks UNDER the old row cap) the
    * mega-blocks refine through the copy-suffix then leading-digit
    * split keys and the query completes within budget — the documented
    * recall trade at degenerate-key scale, accounted by
    * x128's fate report, never silent quadratic cost.
    */
  def customerFuzzyMatch(spark: SparkSession, dir: String): DataFrame = {
    val c = t(spark, dir, "customer")
    val keys = Seq(
      substring(col("c_name"), 1, 16),
      substring(col("c_name"), -3, 3),
      concat(substring(col("c_name"), 1, 15),
        substring(col("c_name"), 17, 2)))
    graft.operators.EntityResolution.fuzzyMatchesGuarded(
      c, "c_name", "c_custkey", keys,
      splitKeys = Seq(substring(col("c_name"), -2, 2),
        substring(col("c_name"), 10, 6)),
      maxDistance = 1, maxBlockPairs = 50000L)
      .orderBy("id_a", "id_b")
  }

  /** Blocking pre-flight report (x123): x74's three blocking passes
    * profiled BEFORE candidate generation —
    * [[graft.operators.EntityResolution.blockProfile]] computes, per
    * pass, the block count, the largest block, and the implied
    * quadratic pair cost `Σ c(c-1)/2` (plus what the 2000 cap would
    * drop). The report the round-14 sf1 soak showed is needed: a
    * low-selectivity key can sit UNDER the cap and still imply 100M
    * pairs. Exact integer counts — plain DuckDB replay.
    */
  def blockProfileQ(spark: SparkSession, dir: String): DataFrame = {
    val c = t(spark, dir, "customer")
    val keys = Seq(
      substring(col("c_name"), 1, 16),
      substring(col("c_name"), -3, 3),
      concat(substring(col("c_name"), 1, 15),
        substring(col("c_name"), 17, 2)))
    graft.operators.EntityResolution.blockProfile(
      c, "c_custkey", keys, maxBlock = 2000)
      .orderBy("pass")
  }

  /** Budget-guarded blocked fuzzy matching (x127): the enforcement
    * counterpart of x123's pre-flight report
    * ([[graft.operators.EntityResolution.fuzzyMatchesGuarded]]). The
    * blocking key is DELIBERATELY degenerate — a 10-char prefix that is
    * one corpus-wide mega-block — the shape the round-14 sf1 soak showed
    * sliding UNDER a row cap while implying ~100M pairs. The pair budget
    * (190 → size cap 20) refuses it: the block refines through two split
    * keys (chars 15-16, then 17) until every finalized block implies
    * <= 190 pairs, and matching proceeds inside those. The oracle
    * unrolls the same windowed-count refinement cascade.
    */
  def guardedFuzzyQ(spark: SparkSession, dir: String): DataFrame = {
    val c = t(spark, dir, "customer")
    graft.operators.EntityResolution.fuzzyMatchesGuarded(
      c, "c_name", "c_custkey",
      blockKeys = Seq(substring(col("c_name"), 1, 10)),
      splitKeys = Seq(substring(col("c_name"), 15, 2),
        substring(col("c_name"), 17, 1)),
      maxDistance = 1, maxBlockPairs = 190L)
      .orderBy("id_a", "id_b")
  }

  /** Guard split/drop accounting (x128): per (pass, level, fate) — the
    * loud half of the budget contract
    * ([[graft.operators.EntityResolution.guardedBlockAccounting]]).
    * Pass 0 (suffix-3) finalizes whole at level 0; pass 1 (the
    * degenerate prefix-10) splits once, its sub-blocks still exceed the
    * budget after the single split key, and the accounting reports them
    * DROPPED — 15 blocks, 1500 rows, 74250 implied pairs the budget
    * refused to pay — instead of silently expanding them.
    */
  def guardAccountingQ(spark: SparkSession, dir: String): DataFrame = {
    val c = t(spark, dir, "customer")
    graft.operators.EntityResolution.guardedBlockAccounting(
      c, "c_custkey",
      blockKeys = Seq(substring(col("c_name"), -3, 3),
        substring(col("c_name"), 1, 10)),
      splitKeys = Seq(substring(col("c_name"), 15, 2)),
      maxBlockPairs = 190L)
      .orderBy("pass", "level", "fate")
  }

  /** Non-positional q-gram blocking recall law (x129): the round-14
    * soak showed a single positional key collapsing on realistic name
    * distributions, so [[graft.operators.EntityResolution.qgramKeys]]
    * blocks on character 4-grams instead — each record enters one block
    * per distinct gram — under the pair budget (5995 → cap 110), which
    * splits or drops the universal stop-gram blocks. One row:
    * `n_lossless` (the x74 key-set baseline — provably total for
    * SUBSTITUTION distance 1 on fixed-width names), `n_qgram` (what the
    * guarded q-gram path finds), `n_missed` (baseline pairs the q-gram
    * path lost), and `n_extra` (q-gram pairs the baseline MISSED: on a
    * variable-length corpus an insert/delete pair at distance 1 shares
    * q-grams but can differ in every positional key, so neither set
    * need contain the other in general). On these fixed-width fixtures
    * every distance-1 pair is a substitution, so `n_extra = 0` and the
    * counts collapse to the subset law
    * n_lossless = n_qgram + n_missed; the oracle pins all four, which
    * makes a future non-fixed-width fixture fail LOUDLY here instead of
    * silently invalidating the law.
    *
    * The baseline arm runs through the guarded path at a 500k pair
    * budget (cap 1000): a NO-OP at the oracle-checked SFs (max block
    * 150 at sf0.1), so the baseline IS the exact lossless set where the
    * law is verified — while the sf1 soak's degenerate suffix blocks
    * split instead of re-creating the 325 s / 74 GB quadratic baseline
    * the unguarded form measured (the soak gates the production path,
    * and a reference arm must not smuggle the blowup back in).
    */
  def qgramRecallQ(spark: SparkSession, dir: String): DataFrame = {
    val c = t(spark, dir, "customer")
    val keys74 = Seq(
      substring(col("c_name"), 1, 16),
      substring(col("c_name"), -3, 3),
      concat(substring(col("c_name"), 1, 15),
        substring(col("c_name"), 17, 2)))
    val lossless = graft.operators.EntityResolution.fuzzyMatchesGuarded(
      c, "c_name", "c_custkey", keys74,
      splitKeys = Seq(substring(col("c_name"), -2, 2),
        substring(col("c_name"), 10, 6)),
      maxDistance = 1, maxBlockPairs = 500000L)
      .select("id_a", "id_b")
    val qg = graft.operators.EntityResolution.fuzzyMatchesGuarded(
      c, "c_name", "c_custkey",
      blockKeys = Seq(
        graft.operators.EntityResolution.qgramKeys(col("c_name"), 4)),
      splitKeys = Seq(substring(col("c_name"), 15, 2),
        substring(col("c_name"), 17, 1)),
      maxDistance = 1, maxBlockPairs = 5995L)
      .select("id_a", "id_b")
    // ONE full-outer join + ONE aggregation computes all four counts.
    // Equivalent to the former two anti-joins + four crossJoined
    // aggregates because both pair streams are DEDUPED on (id_a, id_b)
    // (guardedCandidatePairs ends in dropDuplicates), so the full-outer
    // join emits exactly one row per pair of the union and
    // count(l)/count(q)/count(l where q null)/count(q where l null) ARE
    // |lossless| / |qgram| / |missed| / |extra| — the oracle pins all
    // four. The point is consumer count: each arm's verify tail
    // (dedup + name joins + levenshtein) sits ABOVE its exchange, so
    // every consumer re-executes it — the old shape consumed each
    // stream three times (own count + both anti-joins), this one
    // exactly once.
    lossless.withColumn("__l", lit(1))
      .join(qg.withColumn("__q", lit(1)),
        Seq("id_a", "id_b"), "full_outer")
      .agg(count(col("__l")).as("n_lossless"),
        count(col("__q")).as("n_qgram"),
        count(when(col("__q").isNull, col("__l"))).as("n_missed"),
        count(when(col("__l").isNull, col("__q"))).as("n_extra"))
  }

  /** Budget-capped q-gram guarded ER, production arm ONLY (x132): the
    * sf1-soakable twin of [[qgramRecallQ]]. x129 is a recall LAW — it
    * must also run the lossless key-set baseline, which is the suite's
    * most expensive plan by design and was therefore the one documented
    * omission from the sf1 scale gates. This query runs exactly the
    * guarded q-gram path a production pipeline would run (same blocking
    * keys, same split keys, same 5995-pair budget as x129's q-gram
    * arm), aggregated to a single row whose id sums pin the found pair
    * multiset; the RECALL of this path stays certified by x129 at the
    * oracle SFs, while this entry rides the soak so a degenerate-block
    * blowup in the guarded path itself cannot land unnoticed at sf1.
    */
  def qgramGuardedQ(spark: SparkSession, dir: String): DataFrame = {
    val c = t(spark, dir, "customer")
    graft.operators.EntityResolution.fuzzyMatchesGuarded(
      c, "c_name", "c_custkey",
      blockKeys = Seq(
        graft.operators.EntityResolution.qgramKeys(col("c_name"), 4)),
      splitKeys = Seq(substring(col("c_name"), 15, 2),
        substring(col("c_name"), 17, 1)),
      maxDistance = 1, maxBlockPairs = 5995L)
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("id_a")).as("sum_id_a"),
        sum(col("id_b")).as("sum_id_b"))
  }

  /** Exact cross-corpus similarity join (x124): every (corpus, ref)
    * pair with 3-shingle Jaccard >= 0.7 — FULL RECALL, the exact
    * decontamination ground truth whose recall-approximate twin is
    * x63's LSH cross-dedup. Same reference/corpus split and planted
    * near-verbatim overlap as x63 ([[graft.operators.Dedup
    * .prefixFilterJoin]], AllPairs/PPJoin over ONE shared global
    * order). Both sides pre-hash their shingle sets once (persisted),
    * and the pair stream freezes via [[checkpointed]] before release —
    * the x115 lifecycle, two corpora.
    */
  def crossPrefixPairsQ(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents").select(col("doc_id"), col("text"))
    val ref = docs.filter(col("doc_id") % 3 === 0)
    val planted = ref.filter(col("doc_id") < 30)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(col("text"), lit(" graft cross probe")).as("text"))
    val corpus = docs.filter(col("doc_id") % 3 =!= 0).unionByName(planted)
    def sets(df: DataFrame) = df.select(col("doc_id"),
      graft.operators.Dedup.shingleHashes(col("text"), 3).as("sh"))
      .persist()
    val sc = sets(corpus); val sr = sets(ref)
    try {
      checkpointed(spark, graft.operators.Dedup
        .prefixFilterJoin(sc, sr, "sh", "doc_id", threshold = 0.7))
    } finally { sc.unpersist(); sr.unpersist() }
  }.orderBy("id_l", "id_r")

  /** Homoglyph-robust dedup ([[graft.operators.Dedup.homoglyphDedup]]):
    * docs below id 25 re-enter with Latin a/e/o swapped for Cyrillic
    * lookalikes plus a zero-width-space salt — byte-different, shingle-
    * different, visually identical. The skeleton collapses every plant
    * back onto its original; the oracle replays the mapping verbatim.
    */
  def homoglyphDedupQ(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents").select(col("doc_id"), col("text"))
    val planted = docs.filter(col("doc_id") < 25)
      .select((col("doc_id") + 3000000L).as("doc_id"),
        concat(lit("\u200B"),
          translate(col("text"), "aeo",
            "\u0430\u0435\u043E")).as("text"))
    graft.operators.Dedup.homoglyphDedup(
      docs.unionByName(planted), "text", "doc_id")
      .select(col("doc_id")).orderBy("doc_id")
  }

  /** Kneser-Ney bigram LM scoring ([[graft.operators.NgramLm
    * .scoreDocsKneserNey]]): interpolated absolute-discount smoothing
    * with continuation probabilities, exact counts behind one 6dp-rounded
    * mean-log per doc (the x46 contract).
    */
  def ngramLmKneserNey(spark: SparkSession, dir: String): DataFrame =
    graft.operators.NgramLm.scoreDocsKneserNey(
      t(spark, dir, "documents"), "text", "doc_id")
      .orderBy("doc_id")

  /** Shingle-containment pairs ([[graft.operators.Dedup
    * .containmentPairs]]): quote/excerpt detection at
    * shared / min(|A|,|B|) >= 0.5 — exact integer counts, one IEEE
    * division per pair, full DuckDB replica.
    */
  def containmentPairs(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup.containmentPairs(
      t(spark, dir, "documents"), "text", "doc_id", threshold = 0.5)
      .orderBy("id_a", "id_b")

  /** Full BPE tokenizer training ([[graft.operators.Bpe]]): 6 greedy
    * merge rounds over the corpus word-frequency table; the oracle
    * replays every round in unrolled SQL (pair counting + total-ordered
    * winner + greedy leftmost application via anchored string rewriting).
    */
  def bpeTrain(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Bpe.trainDf(spark, t(spark, dir, "documents"),
      "text", numMerges = 6).orderBy("rank")

  /** Corpus token histogram after encoding with the 6 learned merges
    * ([[graft.operators.Bpe.encodeTokens]]): top 30 vocabulary entries of
    * the trained tokenizer. Exercises the one-kernel multi-merge encoder
    * against the oracle's final training round state.
    */
  def bpeEncode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // single-pass form: the training fold's final symbol state IS the
    // encoded corpus — no second tokenize+shuffle of the corpus
    val (_, vocab) = graft.operators.Bpe.trainWithVocab(
      t(spark, dir, "documents"), "text", numMerges = 6, vocabTopK = 30)
    vocab.toDF("token", "cnt")
  }

  /** Unrolled K-round DuckDB replica of [[bpeTrain]]. Symbols encode as
    * middle-dot-anchored tokens (`·sym·`, space-joined), so one SQL
    * `replace` of `·l· ·r·` with `·lr·` IS greedy leftmost-non-
    * overlapping merge application: matches can't share characters, and
    * `replace` resumes after each match — exactly the kernel's rule.
    * ASSUMES no corpus word contains U+00B7 itself (the anchor char) —
    * true for this generator's ASCII corpus and asserted by the x73
    * oracle's identical assumption; a corpus with interpunct words would
    * need a different anchor codepoint here (the ENGINE kernel has no
    * such restriction).
    */
  private def bpeStepsCte(k: Int): String = {
    val sb = new StringBuilder
    sb ++=
      """WITH wf AS (
        | SELECT token AS w, COUNT(*) AS f FROM (
        |  SELECT unnest(list_filter(string_split_regex(trim(lower(text)),
        |    '\s+'), tk -> length(tk) > 0)) AS token FROM documents)
        | GROUP BY 1
        |), e0 AS (
        | SELECT f, array_to_string(list_transform(
        |   range(1, length(w) + 1),
        |   i -> chr(183) || w[CAST(i AS INT)] || chr(183)), ' ') AS e
        | FROM wf
        |)""".stripMargin
    for (step <- 1 to k) {
      val prev = s"e${step - 1}"
      sb ++=
        s""", m$step AS (
           | SELECT l, r, CAST(SUM(f) AS BIGINT) AS cnt FROM (
           |  SELECT f,
           |   replace(s[CAST(i AS INT)], chr(183), '') AS l,
           |   replace(s[CAST(i AS INT) + 1], chr(183), '') AS r
           |  FROM (
           |   SELECT f, s, unnest(range(1, len(s))) AS i
           |   FROM (SELECT f, string_split(e, ' ') AS s FROM $prev)))
           | GROUP BY 1, 2 ORDER BY cnt DESC, l, r LIMIT 1
           |), e$step AS (
           | SELECT f, replace(e,
           |  (SELECT chr(183) || l || chr(183) || ' ' || chr(183) || r
           |    || chr(183) FROM m$step),
           |  (SELECT chr(183) || l || r || chr(183) FROM m$step)) AS e
           | FROM $prev
           |)""".stripMargin
    }
    sb.result()
  }

  private def bpeOracleSql(k: Int): String =
    bpeStepsCte(k) + "\nSELECT * FROM (\n" +
      (1 to k).map(step =>
        s" SELECT CAST($step AS BIGINT) AS rank, l AS lhs, r AS rhs, cnt" +
          s" FROM m$step").mkString("\n UNION ALL\n") +
      "\n) ORDER BY rank"

  private def bpeEncodeOracleSql(k: Int, topN: Int): String =
    bpeStepsCte(k) +
      s"""
         |SELECT token, cnt FROM (
         | SELECT replace(s, chr(183), '') AS token,
         |  CAST(SUM(f) AS BIGINT) AS cnt
         | FROM (SELECT f, unnest(string_split(e, ' ')) AS s FROM e$k)
         | GROUP BY 1)
         |ORDER BY cnt DESC, token LIMIT $topN""".stripMargin

  /** BM25 seed-query retrieval ([[graft.operators.TextRank]]): score the
    * corpus against a deterministic 8-term query — the first 8 distinct
    * tokens of doc 0 — and emit the top 10 by (4dp-rounded score, id).
    * The 4dp rounding is the cross-engine contract: the summation order
    * over terms is fixed in both engines, but `ln` may differ at ulp
    * scale, and ordering by the ROUNDED score keeps the top-k cut
    * identical on both sides.
    */
  def bm25Retrieval(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val row0 = docs.filter(col("doc_id") === 0)
      .select(TextFunctions.tokens(col("text")).as("__t")).head()
    val terms = row0.getSeq[String](0).distinct.take(8).toArray
    graft.operators.TextRank.bm25(docs, "text", "doc_id", terms)
      .select(col("doc_id"), round(col("score"), 4).as("score"))
      .orderBy(desc("score"), col("doc_id"))
      .limit(10)
  }

  /** End-to-end corpus-preparation funnel — the capstone composition a
    * training-data pipeline actually runs, each stage an already-verified
    * operator: quality/language filter (x25 semantics) → exact dedup (x01)
    * → greedy near-dedup (x04) → benchmark decontamination (x39, against
    * the corpus's first 20 docs) → budget-targeted mixture sampling (x41,
    * 5k-token budget) → token-window chunking (x38). Emits one row per
    * stage with the surviving count, so the WHOLE funnel — including
    * every stage interaction — is hash-checked against a single chained
    * DuckDB replica. Intermediate survivor sets are persisted: each
    * stage's count would otherwise recompute the chain above it.
    */
  def corpusFunnel(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val bench = docs.filter(col("doc_id") < 20)
    // Tokenization sharing, MEASURED AND REJECTED: stages 3-6 all consume
    // tokens, and the operators accept a pre-tokenized array (type
    // dispatch — TextFunctions.tokensOf), so the funnel COULD tokenize
    // once in stage 1's persisted projection. A same-JVM A/B
    // (tools/ProfX43) showed it's a wash-to-regression here: whitespace
    // split over already-cached text costs less than deserializing the
    // ~2-3x larger cached token arrays every stage, and the two shingle
    // stages use different widths (k=3 near-dup, n=13 decontamination) so
    // their dominant kernels can't share anyway. Share tokens only when
    // tokenization itself is expensive (e.g. bpeTokenCount-class
    // regexes).
    // all languages: the synthetic corpus is word-soup and an 'en'-only
    // gate would collapse the funnel to ~6% in stage 1, leaving nothing
    // for the later stages to prove. QualityFilter keeps the input
    // columns, so survivors project straight off it — no second scan.
    // Decontamination FUSES into this same first pass: the 13-gram hit
    // count ([[TextPipeline.contaminationHits]]) is a per-doc predicate
    // independent of the dedup outcome, so it rides the stage-1 projection
    // as a cached boolean and stage 4 is a filter on the cached column —
    // no dedicated decontam scan or join over the stage-3 survivors. (The
    // kernel also runs over docs stages 2-3 later drop — a few extra
    // hash-loops during a pass that is reading the text anyway, traded
    // for a whole survivor-set read + join at stage 4.)
    val clean = !(TextPipeline.contaminationHits(docs, bench, "text")
      .get >= 1)
    // keep QualityFilter's n_tokens annotation alongside the original
    // columns: stage 5's source-mass pass reuses it instead of
    // re-tokenizing every survivor (the one cross-stage reuse that
    // measured as a win — see the tokenization-sharing note above)
    val kept1 = graft.operators.QualityFilter(docs, "text",
      graft.operators.QualityFilter.Config(langs = Set.empty))
      .select(docs.columns.map(col) ++
        Seq(col("n_tokens"), clean.as("__clean")): _*).persist()
    val kept2 = Dedup.exact(kept1, "text", "doc_id").persist()
    val kept3 = Dedup.minhashDedup(kept2, "text", "doc_id",
      threshold = 0.8).persist()
    // no persist: kept4 is a row-local filter over cached kept3 — caching
    // it again would just copy kept3's survivors into a second storage pass
    val kept4 = kept3.filter(col("__clean"))
    // budget under the surviving token mass and a small window size, so
    // sampling genuinely drops docs and chunking genuinely splits them —
    // survivors of the dup-word filter skew short
    val weights = (0 until 20).map(k => s"src$k" -> (k + 1) / 210.0).toMap
    val kept5 = Sampling.mixtureSample(kept4, "text", "doc_id", "source",
      weights, tokenBudget = 500L,
      tokenCountCol = Some("n_tokens"))
    // Eager counts, CONCURRENT (guide §2.6 "2-3 jobs in flight"): the
    // mixture-rate collect inside mixtureSample above already ran the
    // whole chain and materialized the kept1-kept3 caches at query
    // construction, so every count below is an independent read — one
    // parquet scan, three hot-cache scans, one sampled-survivor pass —
    // and serial submission would pay ~6 job round-trips of pure driver
    // latency (profiled: ~2.1s of x43's 3.4s wall sat between stages).
    // A pool of 3 overlaps them; were a cache ever cold here, concurrent
    // scans would at worst duplicate a partition's compute, never change
    // a count. Stages 3+4 fuse into ONE job as before (stage 4 is a
    // row-local predicate on stage-3 survivors), and stages 5+6 fuse the
    // same way: the chunk volume is the row-local [[TextPipeline
    // .chunkCount]] (the chunker's own window-count expression) summed
    // over the sampled survivors, so the count needs no window explode
    // and kept5 needs no cache — the emitted counts are bit-identical.
    import spark.implicits._
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    val counts = try {
      def sub[T](desc: String)(f: => T): java.util.concurrent.Future[T] =
        pool.submit(new java.util.concurrent.Callable[T] {
          def call(): T = {
            spark.sparkContext.setJobDescription(s"funnel: $desc")
            f
          }
        })
      val f0 = sub("all docs")(docs.count())
      val f1 = sub("quality survivors")(kept1.count())
      val f2 = sub("exact-dedup survivors")(kept2.count())
      val f34 = sub("near-dedup + decontam")(
        kept3.agg(count(lit(1)).as("n3"),
          count(when(col("__clean"), lit(1))).as("n4")).head())
      val f56 = sub("sampled + chunk volume")(
        kept5.agg(count(lit(1)).as("n5"),
          coalesce(sum(TextPipeline.chunkCount(col("n_tokens"),
            chunkSize = 16, overlap = 4)), lit(0L)).as("n6")).head())
      val r34 = f34.get(); val r56 = f56.get()
      Seq(
        "0_all" -> f0.get(),
        "1_quality_lang" -> f1.get(),
        "2_exact_dedup" -> f2.get(),
        "3_near_dedup" -> r34.getLong(0),
        "4_decontaminated" -> r34.getLong(1),
        "5_sampled" -> r56.getLong(0),
        "6_chunks" -> r56.getLong(1))
    } finally {
      pool.shutdown()
      // the counts above were the caches' last readers — release them, on
      // a failed count too, or they squat executor storage memory for the
      // rest of the process
      Seq(kept1, kept2, kept3).foreach(_.unpersist())
    }
    counts
      .toDF("stage", "n")
      .orderBy("stage")
  }

  /** Budget-targeted mixture sampling: sources weighted proportional to
    * their index+1 against a 10k-token budget. Keep rates derive from each
    * source's actual token mass; the keep decision is a portable
    * multiplicative hash of doc_id, so the doc-level sample is
    * deterministic and hash-checkable across engines.
    */
  def mixtureSampling(spark: SparkSession, dir: String): DataFrame = {
    val weights = (0 until 20).map(k => s"src$k" -> (k + 1) / 210.0).toMap
    Sampling.mixtureSample(t(spark, dir, "documents"), "text", "doc_id",
      "source", weights, tokenBudget = 10000L)
      .select(col("doc_id"), col("source"))
      .orderBy("doc_id")
  }

  /** Quality-aware near-dedup ([[graft.operators.Dedup
    * .minhashDedupBest]]): each connected near-dup cluster keeps its
    * highest-[[TextFunctions.qualityScore]] member (id tiebreak) instead
    * of its minimum id — survivors' ids, hash-checked against the exact
    * all-pairs-Jaccard + recursive-CTE-components + argmax replay.
    */
  def dedupBestQuality(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashDedupBest(t(spark, dir, "documents"), "text", "doc_id",
      TextFunctions.qualityScore(col("text")), threshold = 0.8)
      .select("doc_id")
      .orderBy("doc_id")

  /** Gopher-style n-gram repetition filters (Rae et al. 2021 §A1.1),
    * beyond the word/bigram signals of x23: per doc, the top-n-gram
    * character fraction for n=2,3,4 (chars covered by occurrences of the
    * single most frequent word n-gram over the doc's chars) and the
    * duplicate-n-gram fraction for n=5,8 (1 − distinct/total
    * occurrences), plus the composite keep decision at Gopher's
    * thresholds (0.20/0.18/0.16 and 0.15/0.12). One
    * [[graft.functions.expr.NgramStatsExpr]] kernel pass per n, all
    * row-local — tokens and n-gram strings never shuffle. Every fraction
    * is a single IEEE division (or multiply-then-divide) of exact
    * integers, so the DuckDB replay is bit-identical; the top-n-gram
    * tiebreak (count desc, string asc) is binary-collation-safe on this
    * ASCII corpus.
    */
  def gopherRepetition(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val toks = TextFunctions.tokens(col("text"))
    def st(n: Int) =
      graft.functions.expr.TextHashExprs.ngramStats(toks, n).as(s"s$n")
    val stats = graft.Tables.widenForKernel(
        docs.select(col("doc_id"), col("text")), col("doc_id"))
      .select(Seq(col("doc_id"),
        length(col("text")).cast("double").as("nc")) ++
        Seq(2, 3, 4, 5, 8).map(st): _*)
    // serde barrier: each stats struct is read field-by-field several
    // times below, and CollapseProject would otherwise inline the kernel
    // into every field reference (one token-array walk per read)
    val b = stats.map(identity(_))(
      org.apache.spark.sql.Encoders.row(stats.schema))
    def topFrac(n: Int) = {
      val s = col(s"s$n")
      when(s.getField("total") > 0,
        s.getField("top_count").cast("double") *
          length(s.getField("top_ngram")).cast("double") / col("nc"))
        .otherwise(lit(0.0))
    }
    def dupFrac(n: Int) = {
      val s = col(s"s$n")
      when(s.getField("total") > 0,
        lit(1.0) - s.getField("n_distinct").cast("double") /
          s.getField("total").cast("double"))
        .otherwise(lit(0.0))
    }
    b.select(col("doc_id"),
        topFrac(2).as("top2_frac"), topFrac(3).as("top3_frac"),
        topFrac(4).as("top4_frac"), dupFrac(5).as("dup5_frac"),
        dupFrac(8).as("dup8_frac"))
      .withColumn("keep",
        col("top2_frac") <= 0.20 && col("top3_frac") <= 0.18 &&
          col("top4_frac") <= 0.16 && col("dup5_frac") <= 0.15 &&
          col("dup8_frac") <= 0.12)
      .orderBy("doc_id")
  }

  /** Leakage-safe train/val/test assignment ([[graft.operators.Sampling
    * .leakSafeSplit]]): every near-dup component lands whole in one
    * split, keyed by the portable hash of its min-id representative. The
    * oracle replays the exact-Jaccard closure (the x26/x94 recursive
    * CTE), the min-reachable representative, and the x41 keep-hash with
    * the 100/100-permille boundaries (100000 / 200000 of 1000003).
    */
  def leakSafeSplits(spark: SparkSession, dir: String): DataFrame =
    Sampling.leakSafeSplit(t(spark, dir, "documents"), "text", "doc_id",
      threshold = 0.8)
      .orderBy("doc_id")

  /** Temperature-scaled mixture resampling ([[graft.operators.Sampling
    * .temperatureWeights]] feeding [[graft.operators.Sampling
    * .mixtureSample]]): per-source token masses are re-weighted by
    * `m^0.7 / Σ m^0.7` and a 20k-token budget is allocated by those
    * weights, then applied with the portable modular keep-hash. Emits
    * the per-source plan-vs-realized summary (mass, 6dp weight, kept
    * docs/tokens) — the corpus mixing report. The oracle replays pow,
    * normalization, thresholds, and the keep-hash verbatim.
    */
  def temperatureMixture(spark: SparkSession, dir: String): DataFrame = {
    val s = spark; import s.implicits._
    val docs = t(spark, dir, "documents")
    // persisted: the mass collect, the sampler's internal mass pass, and
    // the kept aggregation would otherwise each re-tokenize the corpus;
    // the persisted frame is metadata-slim (id, source, count)
    val withNt = docs.select(col("doc_id"), col("source"),
      size(TextFunctions.tokensOf(docs, "text")).cast("long").as("__nt"))
      .persist()
    try {
      val masses = withNt.groupBy(col("source"))
        .agg(sum(col("__nt")).as("tok"))
        .as[(String, Long)].collect().toMap // bounded: one row per source
      val weights = Sampling.temperatureWeights(masses, tau = 0.7)
      val kept = Sampling.mixtureSample(withNt, "text", "doc_id", "source",
        weights, tokenBudget = 20000L, tokenCountCol = Some("__nt"))
      val summary = masses.toSeq.map { case (src, m) =>
        (src, m, BigDecimal(weights(src))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }.toDF("source", "n_tokens", "weight")
      // materialize the per-source report (bounded: one row per source)
      // before the persisted frame is released
      val rows = kept.groupBy(col("source"))
        .agg(count(lit(1)).as("kept_docs"),
          sum(col("__nt")).as("kept_tokens"))
        .join(summary, Seq("source"))
        .select(col("source"), col("n_tokens"), col("weight"),
          col("kept_docs"), col("kept_tokens"))
        .orderBy("source")
        .as[(String, Long, Double, Long, Long)]
        .collect().toSeq // bounded: one row per source
      rows.toDF("source", "n_tokens", "weight", "kept_docs", "kept_tokens")
    } finally withNt.unpersist()
  }

  /** Per-source quota capping (RefinedWeb/C4 host-cap rule): each source
    * keeps its `quota` best-quality documents (x07's exact quality score,
    * id-tiebroken). Per-source report: totals, kept count, kept-id
    * checksum, and the quality cut line. Exact DuckDB oracle — the quality
    * formula is the already-oracle-checked x07 expression and the
    * (quality DESC, doc_id ASC) order is total, so the kept SET matches
    * bit-for-bit. Plan shape: `WindowGroupLimit` pre-limits each input
    * partition to `quota` rows per source before the single exchange
    * (pinned in `PlanQualitySpec`).
    */
  def sourceQuotaQ(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val scored = docs.select(col("doc_id"), col("source"),
      TextFunctions.qualityScore(col("text")).as("quality"))
    val kept = Sampling.sourceQuota(scored, "source", "doc_id",
      col("quality"), quota = 10)
    val totals = scored.groupBy("source").agg(count(lit(1)).as("n_total"))
    kept.groupBy("source")
      .agg(count(lit(1)).as("n_kept"),
        sum("doc_id").as("kept_id_sum"),
        min("quality").as("min_kept_quality"))
      .join(totals, Seq("source"))
      .select(col("source"), col("n_total"), col("n_kept"),
        col("kept_id_sum"), col("min_kept_quality"))
      .orderBy("source")
  }

  /** DSIR importance-resampling selection (Xie et al. 2023) with the
    * English slice as the target corpus: per-doc hashed-ngram importance
    * log-weight under target-vs-raw unigram+bigram models (the paper's
    * feature set), and the keep decision `logw > 0`. Exact DuckDB oracle —
    * the feature hash is the portable codepoint fold (see
    * [[graft.operators.Dsir]]; bigrams fold the space-joined pair, space
    * = codepoint 32 in both engines) and per-bucket `ln` terms are
    * engine-identical (x46 precedent), so only summation order drifts;
    * the 6dp round absorbs it.
    */
  def dsirSelect(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    Dsir.importanceWeights(docs, "text", "doc_id",
        isTarget = col("lang") === "en", numBuckets = 4096)
      .orderBy("doc_id")
  }

  /** ICWS weighted-MinHash candidate pairs with exact weighted Jaccard
    * (rows-only: ICWS sampling is engine-specific; the exact-Jaccard verify
    * stage and the match-probability law are covered by ScalaTest).
    */
  def wminhashPairs(spark: SparkSession, dir: String): DataFrame =
    Dedup.weightedMinhashCandidates(t(spark, dir, "documents"), "text",
      "doc_id", shingleK = 3, numHashes = 64, bands = 16, threshold = 0.5)
      .orderBy("id_a", "id_b")

  /** Weighted-Jaccard near-dedup survivors (rows-only). */
  def wminhashDedup(spark: SparkSession, dir: String): DataFrame =
    Dedup.weightedMinhashDedup(t(spark, dir, "documents"), "text", "doc_id",
      threshold = 0.8)
      .select("doc_id")
      .orderBy("doc_id")

  /** fastText-style hashed-n-gram quality classifier, distantly supervised
    * and learning-law checked: the heuristic quality score provides weak
    * labels (heavily imbalanced, ~79% positive), `fit` runs the bounded
    * per-bucket AdaGrad loop, and the query emits ONE deterministic row —
    * `(n_docs, learn_ok)` where `learn_ok` is "mean model score of
    * positive-labeled docs exceeds negative-labeled by > 0.01". Per-doc
    * predictions are run-order-stable but engine-specific (float gradient
    * sums), and 0/1 accuracy under this imbalance is brittle (the
    * majority-class optimum sits at 0.79 agreement), so the SEPARATION law
    * is what a constant DuckDB oracle verifies: any training regression —
    * diverging loss, broken gradient, inert optimizer (the pre-AdaGrad
    * full-batch config measured separation ~5e-4, i.e. nothing) — drops it
    * below the margin and flips the boolean. Measured separation at
    * sf0.001/0.01/0.1: 0.138/0.144/0.020.
    */
  def qualityClassifier(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val labeled = docs.select(col("doc_id"), col("text"),
      (TextFunctions.qualityScore(col("text")) >= 0.8).cast("double")
        .as("label"))
    val model = graft.operators.HashNgramClassifier.fit(
      labeled, "text", "label", numBuckets = 1 << 12, wordNgrams = 2,
      epochs = 6, lr = 1.0, momentum = 0.5, adagrad = true,
      earlyStopTol = 0.02)
    // the int8-quantized scorer must track the float scorer within its
    // proven scale/8 bound on every document — the deployment-path law
    val qm = graft.operators.HashNgramClassifier.quantize(model)
    labeled
      .select(col("label"),
        graft.operators.HashNgramClassifier.score(col("text"), model)
          .as("__s"),
        graft.operators.HashNgramClassifier.scoreQuantized(col("text"), qm)
          .as("__sq"))
      .agg(count(lit(1)).as("n_docs"),
        ((avg(when(col("label") === 1.0, col("__s"))) -
          avg(when(col("label") === 0.0, col("__s")))) > 0.01)
          .as("learn_ok"),
        (max(abs(col("__s") - col("__sq"))) <= lit(qm.scale / 8.0 + 1e-9))
          .as("quant_ok"))
  }

  /** Audience-overlap sketching, estimator-law checked: per event type, a
    * MinHash-union signature and KMV distinct estimate of the user set (one
    * algebraic aggregate, map-side combined), compared IN-QUERY against the
    * exact distinct counts and exact pairwise Jaccard. The output carries
    * the exact values (DuckDB-reproducible) plus `est_ok` — true iff every
    * sketch estimate lands within its theoretical tolerance (KMV relative
    * error and MinHash Jaccard absolute error are both ~1/sqrt(k), k=128 ⇒
    * σ≈0.09; the 3σ bounds used here hold deterministically for the fixed
    * seeds). A sketch regression flips `est_ok` and the oracle goes red —
    * the hash-specific estimates themselves stay out of the compared
    * columns.
    */
  def userOverlap(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Aggregators
    val k = 128
    val ev = events(spark, dir)
    val sigs = ev
      .select(col("event_type"), col("user_id"),
        xxhash64(col("user_id")).as("__h"))
      .groupBy("event_type")
      .agg(Aggregators.minhashUnion(col("__h"), numHashes = 128).as("__sig"),
        Aggregators.bottomK(col("__h"), k).as("__bk"),
        countDistinct(col("user_id")).as("__exact"))
      .withColumn("__est", Aggregators.kmvDistinct(col("__bk"), k))
    // exact pairwise intersection sizes of the per-type user sets
    val tu = ev.select("event_type", "user_id").distinct()
    val inter = tu.as("ia").join(tu.as("ib"),
        col("ia.user_id") === col("ib.user_id") &&
          col("ia.event_type") < col("ib.event_type"))
      .groupBy(col("ia.event_type").as("type_a"),
        col("ib.event_type").as("type_b"))
      .agg(count(lit(1)).as("__inter"))
    val estTol = 3.0 / math.sqrt(k) // 3σ for both estimators
    sigs.as("a").join(sigs.as("b"),
        col("a.event_type") < col("b.event_type"))
      .select(col("a.event_type").as("type_a"),
        col("b.event_type").as("type_b"),
        col("a.__exact").as("users_a"), col("b.__exact").as("users_b"),
        col("a.__est").as("__est_a"), col("b.__est").as("__est_b"),
        Aggregators.sigJaccard(col("a.__sig"), col("b.__sig"))
          .as("__jest"))
      .join(inter, Seq("type_a", "type_b"), "left")
      .withColumn("__inter", coalesce(col("__inter"), lit(0L)))
      .withColumn("__jexact", col("__inter").cast("double") /
        (col("users_a") + col("users_b") - col("__inter")).cast("double"))
      .select(col("type_a"), col("type_b"), col("users_a"), col("users_b"),
        (abs(col("__est_a") - col("users_a")) <= col("users_a") * estTol &&
          abs(col("__est_b") - col("users_b")) <= col("users_b") * estTol &&
          abs(col("__jest") - col("__jexact")) <= estTol).as("est_ok"))
      .orderBy("type_a", "type_b")
  }

  /** Heavy-hitter tokens per detected language: one SpaceSaving sketch per
    * group over the exploded token stream — bounded state per group where
    * an exact top-k would shuffle the full vocabulary. Guarantee-law
    * checked: SpaceSaving with capacity c MUST surface every token whose
    * true count exceeds N/c (Metwally 2005), so the query compares the
    * sketch's surfaced token set against the exact per-lang counts computed
    * in the same job and emits per lang `(lang, n_tokens, n_heavy,
    * found_ok)` — exact values a DuckDB replica reproduces, plus the law
    * boolean. Sketch-specific counts (order-sensitive above capacity) stay
    * out of the compared columns.
    */
  def heavyTokens(spark: SparkSession, dir: String): DataFrame = {
    val cap = 16
    val toks = t(spark, dir, "documents")
      // lang BEFORE the explode: a single select computing both the lang and
      // the generator leaves lang in the post-Generate project, evaluating
      // the trigram profile once per TOKEN (~54x per doc) instead of once
      // per document — measured 3.2s -> 0.3s at sf0.1
      .select(TextFunctions.langIdTrigram(col("text")).as("lang"),
        TextFunctions.tokens(lower(col("text"))).as("__toks"))
      .select(col("lang"), explode(col("__toks")).as("token"))
    val sketch = toks
      .groupBy("lang")
      .agg(graft.functions.Aggregators.heavyHitters(col("token"), cap)
        .as("hh"))
      .select(col("lang"), explode(col("hh")).as("e"))
      .select(col("lang"), col("e._1").as("token"))
    val exact = toks.groupBy("lang", "token").agg(count(lit(1)).as("cnt"))
    val totals = exact.groupBy("lang").agg(sum("cnt").as("n_tokens"))
    exact.join(totals, Seq("lang"))
      .filter(col("cnt") > col("n_tokens") / cap)
      .join(sketch.withColumn("__in_sketch", lit(true)),
        Seq("lang", "token"), "left")
      .groupBy("lang")
      .agg(first(col("n_tokens")).as("n_tokens"),
        count(lit(1)).as("n_heavy"),
        min(coalesce(col("__in_sketch"), lit(false))).as("found_ok"))
      .orderBy("lang")
  }

  /** Higher-order array function gallery over embeddings: transform /
    * filter / aggregate (fold) / zip_with, oracle-matched against DuckDB's
    * list_* equivalents (both sides fold in list order; results rounded to
    * 6dp to absorb any engine-internal accumulation difference).
    */
  def hofGallery(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "embeddings")
      .select(col("vec_id"),
        round(aggregate(transform(col("embedding"), x => x.cast("double")),
          lit(0.0), (a, x) => a + x * x), 6).as("sum_sq"),
        size(filter(col("embedding"), x => x > 0)).cast("long").as("n_pos"),
        round(array_max(transform(col("embedding"),
          x => x.cast("double") * 2)), 6).as("max2"),
        round(aggregate(
          zip_with(col("embedding"), reverse(col("embedding")),
            (a, b) => a.cast("double") * b.cast("double")),
          lit(0.0), (a, x) => a + x), 6).as("dot_rev"))
      .orderBy("vec_id")

  /** Cross-source duplication audit: the unordered source×source matrix of
    * near-duplicate pairs (exact 3-shingle Jaccard >= 0.8, surfaced through
    * the x03/x04 MinHash-LSH candidate machinery and exact-verified). The
    * dataset-composition question every corpus audit asks — which sources
    * mirror each other — answered without ever shuffling text: the pair
    * stream is dup-rate-bounded and carries ids only; the label join ships
    * (id, source) pairs; the matrix is at most #sources² rows.
    */
  def sourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val pairs = Dedup.minhashCandidates(docs, "text", "doc_id",
      shingleK = 3, numHashes = 64, bands = 16, threshold = 0.8)
    val lab = docs.select(col("doc_id"), col("source"))
    pairs
      .join(lab.toDF("id_a", "src_a"), "id_a")
      .join(lab.toDF("id_b", "src_b"), "id_b")
      .select(least(col("src_a"), col("src_b")).as("src_lo"),
        greatest(col("src_a"), col("src_b")).as("src_hi"))
      .groupBy("src_lo", "src_hi")
      .agg(count(lit(1)).as("dup_pairs"))
      .orderBy("src_lo", "src_hi")
  }

  /** k-anonymity release audit ([[graft.operators.Anonymize]]): customer
    * quasi-identifiers (nationkey, mktsegment) at k=15 with the
    * segment→nation generalization ladder, re-aggregated from the
    * ROW-LEVEL release so the whole generalize-then-suppress path — class
    * sizing, ladder pooling, broadcast resolve, starred projection — is
    * inside the hashed contract.
    */
  def kAnonymityAudit(spark: SparkSession, dir: String): DataFrame = {
    val cust = t(spark, dir, "customer")
      .select(col("c_custkey"),
        col("c_nationkey").cast("string").as("nat"),
        col("c_mktsegment").as("seg"))
    graft.operators.Anonymize.kAnonymize(cust, Seq("nat", "seg"),
        k = 15, ladder = Seq(Seq("seg"), Seq("nat")))
      .groupBy("nat", "seg", "lvl")
      .agg(count(lit(1)).as("n"))
      .orderBy("lvl", "nat", "seg")
  }

  // --------------------------------------------------------------- registry

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x01_dedup_exact" -> dedupExact _,
    "x02_dedup_normalized" -> dedupNormalized _,
    "x03_minhash_pairs" -> minhashPairs _,
    "x04_minhash_dedup" -> minhashDedup _,
    "x05_simhash_dedup" -> simhashDedup _,
    "x06_text_stats" -> textStats _,
    "x07_text_quality" -> textQuality _,
    "x08_text_lang_id" -> textLangId _,
    "x09_events_hourly" -> eventsHourly _,
    "x10_events_sessionize" -> eventsSessionize _,
    "x11_events_first_per_type" -> eventsFirstPerType _,
    "x12_knn_brute" -> knnBrute _,
    "x13_knn_lsh" -> knnLsh _,
    "x14_embed_neardup" -> embedNearDup _,
    "x15_asof_join" -> asofJoin _,
    "x16_knn_ivf" -> knnIvf _,
    "x17_train_test_split" -> trainTestSplit _,
    "x18_json_extract" -> jsonExtract _,
    "x19_token_freq" -> tokenFreq _,
    "x20_array_ops" -> arrayOps _,
    "x21_knn_ivfpq" -> knnIvfPq _,
    "x22_lang_trigram" -> textLangTrigram _,
    "x23_repetition" -> textRepetition _,
    "x24_asof_forward" -> asofForward _,
    "x25_quality_filter" -> qualityFilter _,
    "x26_minhash_dedup_cc" -> minhashDedupCC _,
    "x27_wminhash_pairs" -> wminhashPairs _,
    "x28_wminhash_dedup" -> wminhashDedup _,
    "x29_quality_classifier" -> qualityClassifier _,
    "x30_user_overlap" -> userOverlap _,
    "x31_knn_ivfpq2" -> knnIvfPq2 _,
    "x32_heavy_tokens" -> heavyTokens _,
    "x33_knn_opq" -> knnOpq _,
    "x34_knn_hnsw" -> knnHnsw _,
    "x35_hof_gallery" -> hofGallery _,
    "x36_semdedup" -> semDedup _,
    "x37_knn_hnsw_append" -> knnHnswAppend _,
    "x38_chunking" -> chunkDocs _,
    "x39_decontam" -> decontaminate _,
    "x40_pii_redact" -> piiRedact _,
    "x41_mixture_sampling" -> mixtureSampling _,
    "x42_incremental_dedup" -> incrementalDedup _,
    "x43_corpus_funnel" -> corpusFunnel _,
    "x44_merge_upsert" -> mergeUpsert _,
    "x45_substring_dedup" -> substringDedupStats _,
    "x46_ngram_lm" -> ngramLmScore _,
    "x47_hard_negatives" -> hardNegativeMining _,
    "x48_packing" -> packingLaws _,
    "x49_stats_skipping" -> statsSkipping _,
    "x50_image_neardup" -> imageNearDup _,
    "x51_nfc_fingerprint" -> nfcFingerprint _,
    "x52_bpe_pairs" -> bpePairCounts _,
    "x53_partitioned_skipping" -> partitionedSkipping _,
    "x54_bm25" -> bm25Retrieval _,
    "x55_cross_dedup" -> crossDedup _,
    "x56_diversity_sample" -> diversitySampleLaws _,
    "x57_token_drift" -> tokenDrift _,
    "x58_range_join" -> rangeJoinEvents _,
    "x63_cross_neardup" -> crossNearDedup _,
    "x64_winnow_overlap" -> winnowOverlap _,
    "x65_cosine_pairs" -> cosinePairs _,
    "x66_event_funnel" -> eventFunnel _,
    "x67_retention" -> retentionCohorts _,
    "x68_tfidf_keywords" -> tfidfKeywords _,
    "x69_bpe_train" -> bpeTrain _,
    "x70_bpe_encode" -> bpeEncode _,
    "x71_containment" -> containmentPairs _,
    "x72_ngram_lm_kn" -> ngramLmKneserNey _,
    "x73_homoglyph_dedup" -> homoglyphDedupQ _,
    "x74_fuzzy_match" -> customerFuzzyMatch _,
    "x75_textrank" -> textrankCentrality _,
    "x76_cross_containment" -> crossContainmentQ _,
    "x77_banned_phrases" -> bannedPhrases _,
    "x78_session_paths" -> sessionPaths _,
    "x79_event_anomalies" -> eventAnomalies _,
    "x80_event_transitions" -> eventTransitions _,
    "x81_scd2_dimension" -> scd2Dimension _,
    "x82_event_ewma" -> eventEwma _,
    "x83_pca_embeddings" -> pcaEmbeddings _,
    "x84_format_roundtrip" -> formatRoundtrip _,
    "x85_assoc_rules" -> assocRules _,
    "x86_ohlc_bars" -> ohlcBars _,
    "x87_collocations" -> collocationsQ _,
    "x88_change_feed" -> changeFeedQ _,
    "x89_bloom_skipping" -> bloomSkipping _,
    "x90_scd2_enrichment" -> scd2Enrichment _,
    "x91_concurrent_sessions" -> concurrentSessions _,
    "x92_label_outliers" -> labelOutliersQ _,
    "x93_temperature_mixture" -> temperatureMixture _,
    "x94_dedup_best_quality" -> dedupBestQuality _,
    "x95_sliding_windows" -> eventsSliding _,
    "x96_source_quota" -> sourceQuotaQ _,
    "x97_dsir_select" -> dsirSelect _,
    "x98_gopher_repetition" -> gopherRepetition _,
    "x99_leak_safe_splits" -> leakSafeSplits _,
    "x100_rangejoin_rewrite" -> rangeJoinSqlRewrite _,
    "x101_source_overlap" -> sourceOverlap _,
    "x102_k_anonymity" -> kAnonymityAudit _,
    "x103_rangejoin_time" -> rangeJoinTimeRewrite _,
    "x104_rangejoin_leftouter" -> rangeJoinLeftOuter _,
    "x105_rangejoin_date" -> rangeJoinDateRewrite _,
    "x106_column_profile" -> columnProfileQ _,
    "x107_grouped_profile" -> groupedProfileQ _,
    "x108_histogram_drift" -> histogramDriftQ _,
    "x109_quantile_profile" -> quantileProfileQ _,
    "x110_rangejoin_fullouter" -> rangeJoinFullOuter _,
    "x111_reconcile_diff" -> reconcileDiffQ _,
    "x112_column_checksums" -> columnChecksumsQ _,
    "x113_join_hotspots" -> joinHotspotsQ _,
    "x114_grouped_checksums" -> groupedChecksumsQ _,
    "x115_prefix_filter_pairs" -> prefixFilterPairsQ _,
    "x116_iqr_outliers" -> iqrOutliersQ _,
    "x117_dedup_sweep" -> dedupSweepQ _,
    "x118_rangejoin_decimal" -> rangeJoinDecimal _,
    "x119_rangejoin_semi" -> rangeJoinSemi _,
    "x120_rangejoin_anti" -> rangeJoinAnti _,
    "x121_reconcile_examples" -> reconcileExamplesQ _,
    "x122_grouped_quantiles" -> groupedQuantilesQ _,
    "x123_block_profile" -> blockProfileQ _,
    "x124_cross_prefix_pairs" -> crossPrefixPairsQ _,
    "x125_rangejoin_anti_overlap" -> rangeJoinAntiOverlap _,
    "x126_embedding_checksums" -> embeddingChecksumsQ _,
    "x127_guarded_fuzzy" -> guardedFuzzyQ _,
    "x128_guard_accounting" -> guardAccountingQ _,
    "x129_qgram_recall" -> qgramRecallQ _,
    "x130_rangejoin_overlap_router" -> rangeJoinDecimalOverlap _,
    "x131_semdedup_lsh" -> semDedupLsh _,
    "x132_qgram_guarded" -> qgramGuardedQ _,
    "x133_cdc_scd2" -> cdcScd2Q _)

  /** DuckDB oracles for the exactly-reproducible subset. */
  val oracles: Map[String, String] = Map(
    "x01_dedup_exact" ->
      """SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY text
        |ORDER BY doc_id""".stripMargin,
    "x02_dedup_normalized" ->
      """SELECT MIN(doc_id) AS doc_id FROM documents
        |GROUP BY lower(trim(regexp_replace(text, '\s+', ' ', 'g')))
        |ORDER BY doc_id""".stripMargin,
    "x06_text_stats" ->
      """SELECT doc_id,
        | CAST(length(text) AS BIGINT) AS n_chars,
        | CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
        |   tk -> length(tk) > 0)) AS BIGINT) AS n_tokens,
        | CASE WHEN len(list_filter(string_split_regex(trim(text), '\s+'),
        |   tk -> length(tk) > 0)) > 0
        |  THEN CAST(list_sum(list_transform(
        |    list_filter(string_split_regex(trim(text), '\s+'),
        |      tk -> length(tk) > 0), tk -> length(tk))) AS DOUBLE)
        |   / len(list_filter(string_split_regex(trim(text), '\s+'),
        |      tk -> length(tk) > 0))
        |  ELSE 0.0 END AS avg_word_len,
        | md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin,
    "x07_text_quality" ->
      """WITH base AS (
        | SELECT doc_id, text,
        |  CAST(length(text) AS BIGINT) AS n_chars,
        |  list_filter(string_split_regex(trim(text), '\s+'),
        |    tk -> length(tk) > 0) AS toks
        | FROM documents
        |), stats AS (
        | SELECT doc_id,
        |  CASE WHEN n_chars > 0 THEN
        |    CAST(n_chars - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE) / n_chars
        |   ELSE 0.0 END AS punct_ratio,
        |  CASE WHEN n_chars > 0 THEN
        |    CAST(length(regexp_replace(text, '[^A-Za-z ]', '', 'g')) AS DOUBLE) / n_chars
        |   ELSE 0.0 END AS alpha_ratio,
        |  CASE WHEN len(toks) > 0 THEN
        |    CAST(len(list_filter(toks, tk -> list_contains(
        |      ['the','a','an','and','or','of','to','in','is','are','was',
        |       'it','that','this','for','on','with','as','at','by','be'],
        |      lower(tk)))) AS DOUBLE) / len(toks)
        |   ELSE 0.0 END AS stopword_ratio,
        |  len(toks) AS n_toks,
        |  CASE WHEN len(toks) > 0 THEN
        |    CAST(list_sum(list_transform(toks, tk -> length(tk))) AS DOUBLE) / len(toks)
        |   ELSE 0.0 END AS awl
        | FROM base)
        |SELECT doc_id, punct_ratio, alpha_ratio, stopword_ratio,
        | (least(CAST(n_toks AS DOUBLE) / 50.0, 1.0) * 0.5
        |  + (CASE WHEN awl >= 2.5 AND awl <= 12.0 THEN 1.0 ELSE 0.3 END) * 0.3
        |  + (CASE WHEN punct_ratio <= 0.2 THEN 1.0 ELSE 0.4 END) * 0.2
        | ) AS quality
        |FROM stats ORDER BY doc_id""".stripMargin,
    "x08_text_lang_id" ->
      """WITH toks AS (
        | SELECT doc_id,
        |  list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |    tk -> length(tk) > 0) AS tk
        | FROM documents
        |), scores AS (
        | SELECT doc_id,
        |  CAST(len(list_filter(tk, x -> list_contains(
        |    ['the','and','of','to','is','that','with','for'], x))) AS BIGINT) AS s_en,
        |  CAST(len(list_filter(tk, x -> list_contains(
        |    ['der','die','und','das','ist','nicht','mit','ein'], x))) AS BIGINT) AS s_de,
        |  CAST(len(list_filter(tk, x -> list_contains(
        |    ['el','los','las','es','una','por','como','pero'], x))) AS BIGINT) AS s_es,
        |  CAST(len(list_filter(tk, x -> list_contains(
        |    ['le','les','des','est','une','dans','pour','que'], x))) AS BIGINT) AS s_fr,
        |  CAST(len(list_filter(tk, x -> list_contains(
        |    ['o','os','um','uma','nao','em','do','da'], x))) AS BIGINT) AS s_pt
        | FROM toks)
        |SELECT doc_id, s_en, s_de, s_es, s_fr, s_pt,
        | CASE WHEN greatest(s_en, s_de, s_es, s_fr, s_pt) = 0 THEN 'und'
        |  WHEN s_de = greatest(s_en, s_de, s_es, s_fr, s_pt) THEN 'de'
        |  WHEN s_en = greatest(s_en, s_de, s_es, s_fr, s_pt) THEN 'en'
        |  WHEN s_es = greatest(s_en, s_de, s_es, s_fr, s_pt) THEN 'es'
        |  WHEN s_fr = greatest(s_en, s_de, s_es, s_fr, s_pt) THEN 'fr'
        |  ELSE 'pt' END AS lang_pred
        |FROM scores ORDER BY doc_id""".stripMargin,
    "x09_events_hourly" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type,
        | CAST(COUNT(*) AS BIGINT) AS n,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin,
    // sliding windows: the 4 slide offsets enumerated with exact
    // integer-microsecond floor division (positive epochs)
    "x95_sliding_windows" ->
      """SELECT make_timestamp(
        |  ((epoch_us(ts) // 900000000) - k) * 900000000) AS window_start,
        | event_type, CAST(COUNT(*) AS BIGINT) AS n,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events, (SELECT unnest(range(4)) AS k)
        |GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin,
    "x10_events_sessionize" ->
      """WITH flagged AS (
        | SELECT user_id, event_id, ts,
        |  CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |    OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
        |   THEN 1 ELSE 0 END AS new_s
        | FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), sess AS (
        | SELECT user_id, ts,
        |  SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS session_seq
        | FROM flagged)
        |SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
        | MIN(ts) AS session_start, MAX(ts) AS session_end,
        | CAST(COUNT(*) AS BIGINT) AS n_events,
        | CAST(MAX(epoch_us(ts)) - MIN(epoch_us(ts)) AS BIGINT) AS duration_us
        |FROM sess GROUP BY 1, 2 ORDER BY user_id, session_seq""".stripMargin,
    "x11_events_first_per_type" ->
      """SELECT user_id, event_type, event_id, ts FROM (
        | SELECT *, row_number() OVER (
        |   PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn
        | FROM events) WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin,
    "x17_train_test_split" ->
      """SELECT split, CAST(n AS BIGINT) AS n, CAST(chars AS BIGINT) AS chars
        |FROM (
        | SELECT 'train' AS split, COUNT(*) AS n, SUM(n_chars) AS chars
        | FROM documents WHERE doc_id % 10 != 0
        | UNION ALL
        | SELECT 'test', COUNT(*), SUM(n_chars)
        | FROM documents WHERE doc_id % 10 = 0)
        |ORDER BY split""".stripMargin,
    "x12_knn_brute" ->
      """SELECT query_id, vec_id, CAST(rank AS INT) AS rank FROM (
        | SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
        |  row_number() OVER (PARTITION BY q.vec_id
        |   ORDER BY list_cosine_similarity(c.embedding, q.embedding) DESC,
        |    c.vec_id) AS rank
        | FROM embeddings c, (SELECT * FROM embeddings WHERE vec_id < 20) q
        | WHERE c.vec_id != q.vec_id) WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,
    "x20_array_ops" ->
      """SELECT vec_id, CAST(len(embedding) AS INT) AS dim,
        | embedding[1] AS e1,
        | list_max(embedding) AS emax, list_min(embedding) AS emin
        |FROM embeddings ORDER BY vec_id""".stripMargin,
    "x18_json_extract" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        | CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
        |   AS sum_k
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin,
    "x19_token_freq" ->
      """SELECT tok, CAST(COUNT(*) AS BIGINT) AS n FROM (
        | SELECT unnest(string_split_regex(trim(text), '\s+')) AS tok
        | FROM documents)
        |WHERE length(tok) > 0 GROUP BY 1
        |ORDER BY n DESC, tok LIMIT 50""".stripMargin,
    "x25_quality_filter" ->
      """WITH base AS (
        | SELECT doc_id, text,
        |  CAST(length(text) AS BIGINT) AS n_chars,
        |  list_filter(string_split_regex(trim(text), '\s+'),
        |    tk -> length(tk) > 0) AS toks,
        |  list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |    tk -> length(tk) > 0) AS ltoks
        | FROM documents
        |), sig AS (
        | SELECT doc_id,
        |  CAST(len(toks) AS BIGINT) AS n_tokens,
        |  CASE WHEN n_chars > 0 THEN
        |    CAST(n_chars - length(regexp_replace(text, '[[:punct:]]', '', 'g'))
        |      AS DOUBLE) / n_chars ELSE 0.0 END AS punct_ratio,
        |  CASE WHEN len(toks) > 0 THEN
        |    CAST(list_sum(list_transform(toks, tk -> length(tk))) AS DOUBLE)
        |      / len(toks) ELSE 0.0 END AS awl,
        |  CASE WHEN len(toks) > 0 THEN
        |    1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
        |   ELSE 0.0 END AS dup_word_frac,
        |  CAST(len(list_filter(ltoks, x -> list_contains(
        |    ['the','and','of','to','is','that','with','for'], x))) AS BIGINT)
        |    AS s_en,
        |  CAST(len(list_filter(ltoks, x -> list_contains(
        |    ['der','die','und','das','ist','nicht','mit','ein'], x))) AS BIGINT)
        |    AS s_de,
        |  CAST(len(list_filter(ltoks, x -> list_contains(
        |    ['el','los','las','es','una','por','como','pero'], x))) AS BIGINT)
        |    AS s_es,
        |  CAST(len(list_filter(ltoks, x -> list_contains(
        |    ['le','les','des','est','une','dans','pour','que'], x))) AS BIGINT)
        |    AS s_fr,
        |  CAST(len(list_filter(ltoks, x -> list_contains(
        |    ['o','os','um','uma','nao','em','do','da'], x))) AS BIGINT)
        |    AS s_pt
        | FROM base
        |), scored AS (
        | SELECT doc_id, n_tokens, dup_word_frac,
        |  (least(CAST(n_tokens AS DOUBLE) / 50.0, 1.0) * 0.5
        |   + (CASE WHEN awl >= 2.5 AND awl <= 12.0 THEN 1.0 ELSE 0.3 END) * 0.3
        |   + (CASE WHEN punct_ratio <= 0.2 THEN 1.0 ELSE 0.4 END) * 0.2)
        |    AS quality,
        |  CASE WHEN greatest(s_en, s_de, s_es, s_fr, s_pt) = 0 THEN 'und'
        |   WHEN s_de = greatest(s_en, s_de, s_es, s_fr, s_pt) THEN 'de'
        |   WHEN s_en = greatest(s_en, s_de, s_es, s_fr, s_pt) THEN 'en'
        |   WHEN s_es = greatest(s_en, s_de, s_es, s_fr, s_pt) THEN 'es'
        |   WHEN s_fr = greatest(s_en, s_de, s_es, s_fr, s_pt) THEN 'fr'
        |   ELSE 'pt' END AS lang
        | FROM sig)
        |SELECT doc_id, n_tokens, quality, lang, dup_word_frac FROM scored
        |WHERE n_tokens >= 10 AND quality >= 0.5 AND lang = 'en'
        |  AND dup_word_frac <= 0.3
        |ORDER BY doc_id""".stripMargin,
    "x23_repetition" ->
      """WITH toks AS (
        | SELECT doc_id,
        |  list_filter(string_split_regex(trim(text), '\s+'),
        |    tk -> length(tk) > 0) AS tk
        | FROM documents)
        |SELECT doc_id,
        | CASE WHEN len(tk) > 0
        |  THEN 1.0 - CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk)
        |  ELSE 0.0 END AS dup_word_frac,
        | CASE WHEN len(tk) > 0
        |  THEN CAST(list_max(list_transform(list_distinct(tk),
        |    d -> len(list_filter(tk, t -> t = d)))) AS DOUBLE) / len(tk)
        |  ELSE 0.0 END AS top_word_frac,
        | CASE WHEN len(tk) > 1
        |  THEN 1.0 - CAST(len(list_distinct(list_transform(
        |    range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1]))) AS DOUBLE)
        |    / (len(tk) - 1)
        |  ELSE 0.0 END AS dup_2gram_frac
        |FROM toks ORDER BY doc_id""".stripMargin,
    "x15_asof_join" ->
      """SELECT p.event_id, p.user_id, v.event_id AS view_event_id,
        | epoch_us(p.ts) - epoch_us(v.ts) AS gap_us
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
        | ON p.user_id = v.user_id AND v.ts <= p.ts
        |ORDER BY p.event_id""".stripMargin,
    "x24_asof_forward" ->
      """SELECT v.event_id, v.user_id, p.event_id AS purchase_event_id,
        | epoch_us(p.ts) - epoch_us(v.ts) AS gap_us
        |FROM (SELECT * FROM events WHERE event_type = 'view') v
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        | ON v.user_id = p.user_id AND p.ts >= v.ts
        |ORDER BY v.event_id""".stripMargin,
    "x14_embed_neardup" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs_exact, true AS recall_ok
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.4""".stripMargin,
    "x36_semdedup" ->
      """WITH edges AS MATERIALIZED (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |  WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.4
        |), sym AS (
        |  SELECT id_a AS src, id_b AS dst FROM edges
        |  UNION SELECT id_b, id_a FROM edges
        |), reach AS (
        |  WITH RECURSIVE r(src, dst) AS (
        |    SELECT src, dst FROM sym
        |    UNION
        |    SELECT r.src, s.dst FROM r JOIN sym s ON r.dst = s.src
        |    WHERE r.src <> s.dst
        |  ) SELECT * FROM r
        |)
        |SELECT vec_id FROM embeddings
        |WHERE vec_id NOT IN (SELECT dst FROM reach WHERE src < dst)
        |ORDER BY vec_id""".stripMargin,
    // the LSH-arm oracle does NOT assume the planted structure: it
    // rebuilds the same corpus (base + two pure-scaled copies) and
    // computes the exact >=0.95 cosine graph + reachability itself —
    // the LSH path must reproduce the exact graph's survivor set
    "x131_semdedup_lsh" ->
      """WITH corpus AS MATERIALIZED (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 100000000,
        |    list_transform(embedding,
        |      x -> CAST(x * CAST(1.001 AS FLOAT) AS FLOAT))
        |  FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 200000000,
        |    list_transform(embedding,
        |      x -> CAST(x * CAST(0.999 AS FLOAT) AS FLOAT))
        |  FROM embeddings
        |), edges AS MATERIALIZED (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
        |  WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.95
        |), sym AS (
        |  SELECT id_a AS src, id_b AS dst FROM edges
        |  UNION SELECT id_b, id_a FROM edges
        |), reach AS (
        |  WITH RECURSIVE r(src, dst) AS (
        |    SELECT src, dst FROM sym
        |    UNION
        |    SELECT r.src, s.dst FROM r JOIN sym s ON r.dst = s.src
        |    WHERE r.src <> s.dst
        |  ) SELECT * FROM r
        |)
        |SELECT vec_id FROM corpus
        |WHERE vec_id NOT IN (SELECT dst FROM reach WHERE src < dst)
        |ORDER BY vec_id""".stripMargin,
    "x13_knn_lsh" -> annRecallOracle,
    "x16_knn_ivf" -> annRecallOracle,
    "x21_knn_ivfpq" -> annRecallOracle,
    "x31_knn_ivfpq2" -> annRecallOracle,
    "x33_knn_opq" -> annRecallOracle,
    "x34_knn_hnsw" -> annRecallOracle,
    "x37_knn_hnsw_append" -> annRecallOracle,
    "x38_chunking" ->
      """WITH toks AS (
        | SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'),
        |   tk -> length(tk) > 0) AS t FROM documents
        |), nch AS (
        | SELECT doc_id, t,
        |  CASE WHEN len(t) <= 32 THEN 1
        |   ELSE CAST(floor((len(t) - 32 + 23) / 24.0) AS BIGINT) + 1 END AS k
        | FROM toks
        |)
        |SELECT doc_id, CAST(i AS BIGINT) AS chunk_id,
        | CAST(len(list_slice(t, CAST(i*24+1 AS INT), CAST(i*24+32 AS INT)))
        |   AS BIGINT) AS n_tokens,
        | array_to_string(list_slice(t, CAST(i*24+1 AS INT),
        |   CAST(i*24+32 AS INT)), ' ') AS chunk_text
        |FROM (SELECT doc_id, t, unnest(range(0, k)) AS i FROM nch)
        |ORDER BY doc_id, chunk_id""".stripMargin,
    // packing laws: DuckDB replays the chunking math for the conservation
    // totals; the law counters are zero by contract (capacity, fill
    // consistency, oversize isolation, no lost/duplicated chunks)
    "x48_packing" ->
      """WITH toks AS (
        | SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'),
        |   tk -> length(tk) > 0) AS t FROM documents
        |), nch AS (
        | SELECT doc_id, t,
        |  CASE WHEN len(t) <= 32 THEN 1
        |   ELSE CAST(floor((len(t) - 32 + 23) / 24.0) AS BIGINT) + 1 END AS k
        | FROM toks
        |), ch AS (
        | SELECT CAST(len(list_slice(t, CAST(i*24+1 AS INT),
        |   CAST(i*24+32 AS INT))) AS BIGINT) AS n_tokens
        | FROM (SELECT doc_id, t, unnest(range(0, k)) AS i FROM nch)
        |)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_chunks,
        | CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
        | CAST(0 AS BIGINT) AS n_capacity_violations,
        | CAST(0 AS BIGINT) AS n_fill_mismatch,
        | CAST(0 AS BIGINT) AS n_oversize_not_alone,
        | CAST(0 AS BIGINT) AS n_dup_chunk_ids
        |FROM ch""".stripMargin,
    // stats-skipping laws: DuckDB replays the range-read VALUES from the
    // raw table (v0 = base slice; v2 = base slice + 1.00/row for the
    // merged band); the skip/match laws are TRUE by contract. File counts
    // stay out: range-partition boundaries are Spark-sampler-specific.
    "x49_stats_skipping" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_v0,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_v0,
        | CAST(COUNT(*) AS BIGINT) AS n_v2,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) +
        |   CAST(COUNT(*) FILTER (WHERE l_orderkey BETWEEN 1500 AND 1599)
        |     AS DECIMAL(18,2)) AS DOUBLE) AS sum_v2,
        | TRUE AS v0_skips, TRUE AS v2_skips, TRUE AS v1_matches
        |FROM lineitem WHERE l_orderkey BETWEEN 1000 AND 2000
        | AND l_orderkey % 8 = 0""".stripMargin,
    // image dedup laws: the card construction makes byte identity
    // (id%100, (id/100)%2) and decoded-feature identity (id%100) pure id
    // arithmetic; n_undecoded = 0 is the real-decode guard
    "x50_image_neardup" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_images,
        | CAST(0 AS BIGINT) AS n_undecoded,
        | CAST(COUNT(DISTINCT (vec_id % 100, (vec_id // 100) % 2))
        |   AS BIGINT) AS n_byte_classes,
        | CAST(COUNT(DISTINCT vec_id % 100) AS BIGINT) AS n_feature_classes,
        | CAST((SELECT SUM(m) FROM
        |   (SELECT MIN(vec_id) AS m FROM embeddings GROUP BY vec_id % 100))
        |   AS BIGINT) AS survivor_id_sum
        |FROM embeddings""".stripMargin,
    // NFC law: the composed (chr 233) prefix and decomposed (chr 769
    // combining acute) suffix canonically collide; md5 matches iff both
    // engines actually compose
    "x51_nfc_fingerprint" ->
      """SELECT doc_id,
        | md5(nfc_normalize('caf' || chr(233) || ' ' ||
        |   lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) ||
        |   ' cafe' || chr(769))) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,
    "x52_bpe_pairs" ->
      """WITH toks AS (
        | SELECT unnest(list_filter(string_split_regex(trim(lower(text)),
        |   '\s+'), tk -> length(tk) > 0)) AS token FROM documents
        |), pairs AS (
        | SELECT substr(token, CAST(i AS INT), 2) AS pair
        | FROM (SELECT token, unnest(range(1, length(token))) AS i
        |   FROM toks WHERE length(token) >= 2)
        |)
        |SELECT pair, CAST(COUNT(*) AS BIGINT) AS cnt FROM pairs
        |GROUP BY pair ORDER BY cnt DESC, pair ASC LIMIT 50""".stripMargin,
    // composed partition + stats pruning: values replay from lineitem
    // directly; the skip laws are engine-side file-count facts exported
    // as booleans (layouts aren't portable, laws are)
    "x53_partitioned_skipping" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_price,
        | TRUE AS compose_skips, TRUE AS match_ok
        |FROM lineitem
        |WHERE l_returnflag = 'R' AND l_orderkey BETWEEN 1000 AND 2000
        | AND l_orderkey % 4 = 0""".stripMargin,
    // BM25: full replica — query-term derivation (first 8 distinct tokens
    // of doc 0), document frequencies, Okapi scoring, 4dp-rounded ordering
    "x54_bm25" ->
      """WITH toks AS (
        | SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'),
        |   tk -> length(tk) > 0) AS tk FROM documents
        |), q AS (
        | SELECT tok FROM (
        |  SELECT tok, MIN(ord) AS fo FROM (
        |   SELECT unnest(tk) AS tok, generate_subscripts(tk, 1) AS ord
        |   FROM toks WHERE doc_id = 0) GROUP BY tok)
        | ORDER BY fo LIMIT 8
        |), stats AS (
        | SELECT COUNT(*) AS n,
        |  CAST(SUM(len(tk)) AS DOUBLE) / COUNT(*) AS avgdl FROM toks
        |), tf AS (
        | SELECT toks.doc_id, q.tok,
        |  len(list_filter(toks.tk, x -> x = q.tok)) AS tf,
        |  len(toks.tk) AS dl
        | FROM toks CROSS JOIN q
        |), df AS (
        | SELECT tok, SUM(CASE WHEN tf > 0 THEN 1 ELSE 0 END) AS dfq
        | FROM tf GROUP BY tok
        |), scored AS (
        | SELECT tf.doc_id,
        |  SUM(ln(1 + (stats.n - df.dfq + 0.5) / (df.dfq + 0.5))
        |    * (CAST(tf.tf AS DOUBLE) * (1.2 + 1.0))
        |    / (CAST(tf.tf AS DOUBLE)
        |       + 1.2 * (1 - 0.75 + 0.75 * tf.dl / stats.avgdl))) AS s,
        |  SUM(tf.tf) AS hits
        | FROM tf JOIN df USING (tok) CROSS JOIN stats
        | GROUP BY tf.doc_id
        |)
        |SELECT doc_id, round(s, 4) AS score FROM scored WHERE hits > 0
        |ORDER BY round(s, 4) DESC, doc_id LIMIT 10""".stripMargin,
    // cross-corpus dedup: text-equality semantics (the 64-bit-hash
    // convention of the Spark side collides with ~2^-64 probability)
    "x55_cross_dedup" ->
      """WITH ref AS (
        | SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
        |), corpus AS (
        | SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0
        | UNION ALL
        | SELECT doc_id + 1000000, text FROM ref WHERE doc_id < 30
        |)
        |SELECT c.doc_id FROM corpus c WHERE NOT EXISTS (
        |  SELECT 1 FROM ref a WHERE a.text = c.text)
        |ORDER BY doc_id""".stripMargin,
    // cross-corpus NEAR dedup: exact cross shingle-Jaccard replica of the
    // x55 split (planted copies carry 3 appended tokens)
    "x63_cross_neardup" ->
      """WITH refd AS (
        | SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
        |), corp AS (
        | SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0
        | UNION ALL
        | SELECT doc_id + 1000000, text || ' graft cross probe' FROM refd
        | WHERE doc_id < 30
        |), exc AS MATERIALIZED (
        | SELECT doc_id, unnest(s) AS g FROM (
        |  SELECT doc_id,
        |   CASE WHEN len(t) >= 3 THEN
        |     list_distinct(list_transform(range(1, len(t) - 1),
        |       i -> t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT)+1]
        |            || ' ' || t[CAST(i AS INT)+2]))
        |   ELSE [array_to_string(t, ' ')] END AS s
        |  FROM (SELECT doc_id, list_filter(
        |         string_split_regex(trim(text), '\s+'),
        |         tk -> length(tk) > 0) AS t FROM corp))
        |), exr AS MATERIALIZED (
        | SELECT doc_id, unnest(s) AS g FROM (
        |  SELECT doc_id,
        |   CASE WHEN len(t) >= 3 THEN
        |     list_distinct(list_transform(range(1, len(t) - 1),
        |       i -> t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT)+1]
        |            || ' ' || t[CAST(i AS INT)+2]))
        |   ELSE [array_to_string(t, ' ')] END AS s
        |  FROM (SELECT doc_id, list_filter(
        |         string_split_regex(trim(text), '\s+'),
        |         tk -> length(tk) > 0) AS t FROM refd))
        |), szc AS (SELECT doc_id, count(*) AS n FROM exc GROUP BY 1),
        |szr AS (SELECT doc_id, count(*) AS n FROM exr GROUP BY 1),
        |inter AS (
        | SELECT c.doc_id AS cid, r.doc_id AS rid, count(*) AS i
        | FROM exc c JOIN exr r ON c.g = r.g GROUP BY 1, 2
        |)
        |SELECT doc_id FROM corp WHERE doc_id NOT IN (
        |  SELECT cid FROM inter
        |  JOIN szc ON szc.doc_id = cid JOIN szr ON szr.doc_id = rid
        |  WHERE CAST(i AS DOUBLE) / (szc.n + szr.n - i) >= 0.8)
        |ORDER BY doc_id""".stripMargin,
    // winnowing: full selection replay — 4-token grams, MD5 hashes,
    // lexicographic min per 4-hash window, distinct per doc, overlap join
    "x64_winnow_overlap" ->
      """WITH toks AS (
        | SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'),
        |   tk -> length(tk) > 0) AS t FROM documents
        |), grams AS (
        | SELECT doc_id,
        |  CASE WHEN len(t) >= 4 THEN
        |    list_transform(range(1, len(t) - 2),
        |      i -> md5(t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT)+1]
        |           || ' ' || t[CAST(i AS INT)+2] || ' '
        |           || t[CAST(i AS INT)+3]))
        |  ELSE [md5(array_to_string(t, ' '))] END AS h
        | FROM toks
        |), sel AS (
        | SELECT doc_id,
        |  CASE WHEN len(h) >= 4 THEN
        |    list_distinct(list_transform(range(1, len(h) - 2),
        |      j -> list_aggregate(h[CAST(j AS INT):CAST(j AS INT)+3],
        |        'min')))
        |  ELSE [list_aggregate(h, 'min')] END AS fps
        | FROM grams
        |), fp AS (
        | SELECT doc_id, unnest(fps) AS f FROM sel
        |)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        | CAST(count(*) AS BIGINT) AS shared
        |FROM fp a JOIN fp b ON a.f = b.f AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 2
        |ORDER BY id_a, id_b""".stripMargin,
    // all-pairs shingle-TF cosine: integer dot/norms, one final IEEE
    // division per pair — bit-identical across engines
    "x65_cosine_pairs" ->
      """WITH tf AS MATERIALIZED (
        | SELECT doc_id, g, count(*) AS c FROM (
        |  SELECT doc_id, unnest(s) AS g FROM (
        |   SELECT doc_id,
        |    CASE WHEN len(t) >= 3 THEN
        |      list_transform(range(1, len(t) - 1),
        |        i -> t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT)+1]
        |             || ' ' || t[CAST(i AS INT)+2])
        |    ELSE [array_to_string(t, ' ')] END AS s
        |   FROM (SELECT doc_id, list_filter(
        |          string_split_regex(trim(text), '\s+'),
        |          tk -> length(tk) > 0) AS t FROM documents)))
        | GROUP BY 1, 2
        |), dfq AS (
        | SELECT g, count(*) AS df FROM tf GROUP BY 1
        |), kept AS (
        | SELECT tf.doc_id, tf.g, tf.c FROM tf JOIN dfq USING (g)
        | WHERE dfq.df <= 20
        |), nrm AS (
        | SELECT doc_id, SUM(c*c) AS n2 FROM kept GROUP BY 1
        |), dots AS (
        | SELECT a.doc_id AS id_a, b.doc_id AS id_b, SUM(a.c*b.c) AS dot
        | FROM kept a JOIN kept b ON a.g = b.g AND a.doc_id < b.doc_id
        | GROUP BY 1, 2
        |)
        |SELECT id_a, id_b, CAST(dot AS BIGINT) AS dot,
        | CAST(dot AS DOUBLE)
        |   / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)) AS cosine
        |FROM dots JOIN nrm na ON na.doc_id = id_a
        |          JOIN nrm nb ON nb.doc_id = id_b
        |WHERE CAST(dot AS DOUBLE)
        |   / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)) >= 0.5
        |ORDER BY id_a, id_b""".stripMargin,
    // weekly retention: integer floor-division cohorting (// floors in
    // DuckDB), distinct actives per (cohort, offset), exact ratio
    "x67_retention" ->
      """WITH wp AS (
        | SELECT user_id AS u, epoch_us(ts) // 604800000000 AS p
        | FROM events
        |), fp AS (
        | SELECT u, MIN(p) AS p0 FROM wp GROUP BY 1
        |), act AS (
        | SELECT wp.u, fp.p0, wp.p - fp.p0 AS off
        | FROM wp JOIN fp ON wp.u = fp.u
        |), cells AS (
        | SELECT p0, off, COUNT(DISTINCT u) AS n_active
        | FROM act GROUP BY 1, 2
        |), sizes AS (
        | SELECT p0, COUNT(*) AS cohort_size FROM fp GROUP BY 1
        |)
        |SELECT CAST(p0 * 604800 AS BIGINT) AS cohort_period,
        | CAST(off AS BIGINT) AS period_offset,
        | CAST(n_active AS BIGINT) AS n_active,
        | CAST(cohort_size AS BIGINT) AS cohort_size,
        | CAST(n_active AS DOUBLE) / cohort_size AS retention
        |FROM cells JOIN sizes USING (p0)
        |ORDER BY cohort_period, period_offset""".stripMargin,
    // per-doc top-5 tf-idf keywords: exact integer tf/df, smoothed idf
    // behind 4dp rounding, term tiebreak — fully total-ordered selection
    "x68_tfidf_keywords" ->
      """WITH toks AS (
        | SELECT doc_id, unnest(list_filter(
        |   string_split_regex(trim(text), '\s+'),
        |   tk -> length(tk) > 0)) AS term FROM documents
        |), tf AS (
        | SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2
        |), dfq AS (
        | SELECT term, COUNT(*) AS df FROM tf GROUP BY 1
        |), n AS (
        | SELECT COUNT(*) AS n FROM documents
        |), scored AS (
        | SELECT doc_id, term, tf, df,
        |  round(tf * ln((n + 1.0) / (df + 1.0)), 4) AS score
        | FROM tf JOIN dfq USING (term) CROSS JOIN n
        |), ranked AS (
        | SELECT doc_id, term, tf, df, score, row_number() OVER (
        |   PARTITION BY doc_id ORDER BY score DESC, term) AS rank
        | FROM scored
        |)
        |SELECT doc_id, term, CAST(tf AS BIGINT) AS tf,
        | CAST(df AS BIGINT) AS df, score, CAST(rank AS BIGINT) AS rank
        |FROM ranked WHERE rank <= 5
        |ORDER BY doc_id, rank""".stripMargin,
    // markov transitions: exact pair counts + one exact-ratio division
    // SCD2 enrichment: interval containment join replayed in DuckDB —
    // containment is UNIQUE per event even at zero-length tie intervals
    // (ts >= from AND ts < to fails for [T, T)), so the inequality join
    // is the exact semantics the as-of + version-tiebreak implements
    "x90_scd2_enrichment" ->
      """WITH ordered AS (
        | SELECT user_id, event_type, ts, event_id,
        |  lag(event_type) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS prev
        | FROM events
        |), changes AS (
        | SELECT user_id, event_type, ts, event_id FROM ordered
        | WHERE prev IS NULL OR event_type != prev
        |), iv AS (
        | SELECT user_id, event_type AS segment, ts AS eff_from,
        |  lead(ts) OVER w AS eff_to
        | FROM changes
        | WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |)
        |SELECT segment, e.event_type, CAST(count(*) AS BIGINT) AS n
        |FROM events e JOIN iv
        | ON e.user_id = iv.user_id AND e.ts >= iv.eff_from
        | AND (iv.eff_to IS NULL OR e.ts < iv.eff_to)
        |GROUP BY 1, 2 ORDER BY segment, e.event_type""".stripMargin,
    // temperature mixture: pow/normalize/threshold and the modular
    // keep-hash replayed verbatim; kept aggregates join the mass table
    "x93_temperature_mixture" ->
      """WITH t AS (
        | SELECT doc_id, source,
        |  len(list_filter(string_split_regex(trim(text), '\s+'),
        |    tk -> length(tk) > 0)) AS nt
        | FROM documents
        |), srct AS (
        | SELECT source, SUM(nt) AS tok FROM t GROUP BY 1
        |), w AS (
        | SELECT source, tok,
        |  pow(tok, 0.7) / (SELECT SUM(pow(tok, 0.7)) FROM srct) AS wt
        | FROM srct
        |), rates AS (
        | SELECT source, tok, round(wt, 6) AS weight,
        |  CAST(floor(least(1.0, 20000.0 * wt / tok) * 1000003) AS BIGINT)
        |    AS thresh
        | FROM w
        |)
        |SELECT r.source, CAST(r.tok AS BIGINT) AS n_tokens, r.weight,
        | CAST(COUNT(*) AS BIGINT) AS kept_docs,
        | CAST(SUM(t.nt) AS BIGINT) AS kept_tokens
        |FROM rates r JOIN t USING (source)
        |WHERE ((t.doc_id % 1000003) * (2654435761 % 1000003)) % 1000003
        |      < r.thresh
        |GROUP BY 1, 2, 3 ORDER BY r.source""".stripMargin,
    // source quota: x07's exact quality formula + total (quality DESC, id)
    // row_number order — the kept set replays bit-for-bit
    "x96_source_quota" ->
      """WITH base AS (
        | SELECT doc_id, text,
        |  CAST(length(text) AS BIGINT) AS n_chars,
        |  list_filter(string_split_regex(trim(text), '\s+'),
        |    tk -> length(tk) > 0) AS toks
        | FROM documents
        |), stats AS (
        | SELECT doc_id,
        |  CASE WHEN n_chars > 0 THEN
        |    CAST(n_chars - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE) / n_chars
        |   ELSE 0.0 END AS punct_ratio,
        |  len(toks) AS n_toks,
        |  CASE WHEN len(toks) > 0 THEN
        |    CAST(list_sum(list_transform(toks, tk -> length(tk))) AS DOUBLE) / len(toks)
        |   ELSE 0.0 END AS awl
        | FROM base
        |), q AS (
        | SELECT d.source, s.doc_id,
        |  (least(CAST(s.n_toks AS DOUBLE) / 50.0, 1.0) * 0.5
        |   + (CASE WHEN s.awl >= 2.5 AND s.awl <= 12.0 THEN 1.0 ELSE 0.3 END) * 0.3
        |   + (CASE WHEN s.punct_ratio <= 0.2 THEN 1.0 ELSE 0.4 END) * 0.2
        |  ) AS quality
        | FROM stats s JOIN documents d USING (doc_id)
        |), r AS (
        | SELECT source, doc_id, quality, row_number() OVER (
        |   PARTITION BY source ORDER BY quality DESC, doc_id ASC) AS rk
        | FROM q
        |), tot AS (
        | SELECT source, CAST(COUNT(*) AS BIGINT) AS n_total FROM q GROUP BY 1
        |)
        |SELECT r.source, t.n_total, CAST(COUNT(*) AS BIGINT) AS n_kept,
        | CAST(SUM(r.doc_id) AS BIGINT) AS kept_id_sum,
        | MIN(r.quality) AS min_kept_quality
        |FROM r JOIN tot t USING (source) WHERE r.rk <= 10
        |GROUP BY 1, 2 ORDER BY r.source""".stripMargin,
    // DSIR: portable codepoint-fold feature hash (0-init fold == DuckDB
    // list_reduce first-element init), add-one-smoothed target/raw
    // unigram+bigram models (bigram = space-joined pair through the same
    // fold), 6dp-rounded per-doc log-weight sum
    "x97_dsir_select" ->
      """WITH lt AS (
        | SELECT doc_id, lang,
        |  list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |    tk -> regexp_matches(tk, '^[a-z]+$')) AS t
        | FROM documents
        |), feats AS (
        | SELECT doc_id, lang, unnest(t) AS w FROM lt
        | UNION ALL
        | SELECT doc_id, lang,
        |  unnest(list_transform(range(1, len(t)),
        |    i -> t[CAST(i AS INT)] || ' ' || t[CAST(i + 1 AS INT)])) AS w
        | FROM lt
        |), ex AS MATERIALIZED (
        | SELECT doc_id, lang = 'en' AS is_t,
        |  list_reduce(list_transform(range(1, length(w) + 1),
        |      i -> unicode(w[CAST(i AS INT)])),
        |    (a, b) -> (a * 31 + b) % 1000003) % 4096 AS b
        | FROM feats
        |), mc AS (
        | SELECT b, CAST(COUNT(*) AS BIGINT) AS cr,
        |  CAST(SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS ct
        | FROM ex GROUP BY 1
        |), tot AS (
        | SELECT SUM(cr) AS nr, SUM(ct) AS nt FROM mc
        |), model AS (
        | SELECT b, ln((ct + 1.0) / (nt + 4096.0))
        |         - ln((cr + 1.0) / (nr + 4096.0)) AS lr
        | FROM mc, tot
        |)
        |SELECT e.doc_id, CAST(COUNT(*) AS BIGINT) AS n_feats,
        | ROUND(SUM(m.lr), 6) AS logw, ROUND(SUM(m.lr), 6) > 0.0 AS kept
        |FROM ex e JOIN model m USING (b)
        |GROUP BY 1 ORDER BY e.doc_id""".stripMargin,
    // label outliers: exact per-label centroid via parallel unnest,
    // cosine against it, 4dp-rounded bottom-5 rank per label
    "x92_label_outliers" ->
      """WITH m AS (
        | SELECT label, i, AVG(CAST(e AS DOUBLE)) AS mu
        | FROM (SELECT label, unnest(embedding) AS e,
        |   unnest(range(len(embedding))) AS i FROM embeddings)
        | GROUP BY 1, 2
        |), c AS (
        | SELECT label, list(mu ORDER BY i) AS cent FROM m GROUP BY 1
        |), s AS (
        | SELECT e.label, e.vec_id,
        |  round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |    c.cent), 4) AS sim
        | FROM embeddings e JOIN c USING (label)
        |)
        |SELECT CAST(label AS BIGINT) AS label, vec_id, sim,
        | CAST(rank AS BIGINT) AS rank FROM (
        | SELECT *, row_number() OVER (PARTITION BY label
        |   ORDER BY sim ASC, vec_id) AS rank FROM s)
        |WHERE rank <= 5 ORDER BY label, rank""".stripMargin,
    // concurrent sessions: sessionize (the x10 CTE) then an inequality
    // overlap join — DuckDB's IEJoin evaluates the quadratic form the
    // bucketized engine plan avoids
    "x91_concurrent_sessions" ->
      """WITH flagged AS (
        | SELECT user_id, event_id, ts,
        |  CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |    OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
        |   THEN 1 ELSE 0 END AS new_s
        | FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), sess AS (
        | SELECT user_id, ts,
        |  SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS session_seq
        | FROM flagged
        |), iv AS (
        | SELECT user_id, MIN(epoch_us(ts)) AS s_us, MAX(epoch_us(ts)) AS e_us
        | FROM sess GROUP BY user_id, session_seq
        |)
        |SELECT a.user_id, CAST(COUNT(*) AS BIGINT) AS n_concurrent,
        | CAST(COUNT(DISTINCT b.user_id) AS BIGINT) AS n_users
        |FROM iv a JOIN iv b
        | ON a.user_id % 20 = 0 AND b.user_id % 20 != 0
        | AND a.s_us <= b.e_us AND b.s_us <= a.e_us
        |GROUP BY a.user_id ORDER BY a.user_id""".stripMargin,
    // SCD2: the lag-change-filter + lead-close pipeline replayed verbatim
    "x81_scd2_dimension" ->
      """WITH ordered AS (
        | SELECT user_id, event_type, ts, event_id,
        |  lag(event_type) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS prev
        | FROM events
        |), changes AS (
        | SELECT user_id, event_type, ts, event_id FROM ordered
        | WHERE prev IS NULL OR event_type != prev
        |)
        |SELECT user_id, event_type AS segment, ts AS eff_from,
        | lead(ts) OVER w AS eff_to,
        | lead(ts) OVER w IS NULL AS is_current,
        | CAST(row_number() OVER w AS BIGINT) AS version
        |FROM changes
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, version""".stripMargin,
    // EWMA: the kernel's exact left-fold recurrence as a recursive CTE —
    // identical double arithmetic order, so 6dp rounding only formats
    "x82_event_ewma" ->
      """WITH RECURSIVE counts AS (
        | SELECT event_type AS k,
        |  (epoch_us(ts) // 3600000000) * 3600 AS p, COUNT(*) AS n
        | FROM events GROUP BY 1, 2
        |), ord AS (
        | SELECT k, p, n,
        |  row_number() OVER (PARTITION BY k ORDER BY p) AS rn
        | FROM counts
        |), r AS (
        | SELECT k, p, n, rn, CAST(n AS DOUBLE) AS e FROM ord WHERE rn = 1
        | UNION ALL
        | SELECT o.k, o.p, o.n, o.rn,
        |  0.2 * CAST(o.n AS DOUBLE) + (1.0 - 0.2) * r.e
        | FROM ord o JOIN r ON o.k = r.k AND o.rn = r.rn + 1
        |)
        |SELECT k AS event_type, CAST(p AS BIGINT) AS period_start,
        | CAST(n AS BIGINT) AS n, round(e, 6) AS ewma
        |FROM r ORDER BY event_type, period_start""".stripMargin,
    // PCA: laws verified in-engine; the oracle re-derives the one
    // data-dependent value (trace = Σ per-dimension population variance)
    "x83_pca_embeddings" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_vecs,
        | CAST(64 AS BIGINT) AS dim,
        | (SELECT round(sum(v), 4) FROM (
        |    SELECT var_pop(e) AS v FROM (
        |      SELECT unnest(embedding) AS e,
        |       unnest(range(len(embedding))) AS i
        |      FROM embeddings) GROUP BY i)) AS trace,
        | true AS monotone_ok, true AS orthonormal_ok,
        | true AS projvar_ok, true AS explained_ok
        |FROM embeddings""".stripMargin,
    // format round trip: counts/lengths re-derived from the parquet
    // original; losslessness is the Spark-side fingerprint verdict
    "x84_format_roundtrip" ->
      """SELECT fmt AS format, CAST(n AS BIGINT) AS n,
        | CAST(c AS BIGINT) AS sum_chars,
        | CAST(l AS BIGINT) AS sum_text_len, true AS lossless
        |FROM (SELECT unnest(['json', 'orc']) AS fmt),
        | (SELECT count(*) AS n, sum(n_chars) AS c,
        |   sum(length(text)) AS l FROM documents)
        |ORDER BY format""".stripMargin,
    // bloom skipping: probe-key derivation + point-lookup values
    // re-derived from raw lineitem; skip/match laws in-engine
    "x89_bloom_skipping" ->
      """WITH slice AS (
        | SELECT l_partkey, l_quantity FROM lineitem
        | WHERE l_orderkey % 10 = 0
        |), probe AS (
        | SELECT l_partkey AS k FROM slice
        | GROUP BY 1 ORDER BY count(*), l_partkey LIMIT 1
        |)
        |SELECT CAST(k AS BIGINT) AS probe_key,
        | CAST(count(*) AS BIGINT) AS n,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |   AS qty_sum,
        | true AS bloom_skips, true AS match_ok
        |FROM slice JOIN probe ON l_partkey = k
        |GROUP BY k""".stripMargin,
    // CDC feed: per-change-type aggregates re-derived from raw orders
    // with the same key filters and decimal-cast price arithmetic
    "x88_change_feed" ->
      """WITH base AS (
        | SELECT o_orderkey AS k, o_totalprice AS p FROM orders
        | WHERE o_orderkey % 3 = 0
        |)
        |SELECT * FROM (
        | SELECT 'delete' AS _change_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(k) AS BIGINT) AS key_sum,
        |  CAST(sum(CAST(p AS DECIMAL(18,2))) AS DOUBLE) AS price_sum
        | FROM base WHERE k % 10 = 4
        | UNION ALL
        | SELECT 'insert', CAST(count(*) AS BIGINT),
        |  CAST(sum(-k) AS BIGINT),
        |  CAST(sum(CAST(p AS DECIMAL(18,2))) AS DOUBLE)
        | FROM base WHERE k % 100 = 7
        | UNION ALL
        | SELECT 'update_preimage', CAST(count(*) AS BIGINT),
        |  CAST(sum(k) AS BIGINT),
        |  CAST(sum(CAST(p AS DECIMAL(18,2))) AS DOUBLE)
        | FROM base WHERE k % 10 = 3
        | UNION ALL
        | SELECT 'update_postimage', CAST(count(*) AS BIGINT),
        |  CAST(sum(k) AS BIGINT),
        |  CAST(sum(CAST(p + 1.0 AS DECIMAL(18,2))) AS DOUBLE)
        | FROM base WHERE k % 10 = 3
        |) ORDER BY _change_type""".stripMargin,
    // CDC -> SCD2: the three versions rebuilt from raw orders with the
    // same edits, then the run detection (image change / presence gap
    // opens a run) replayed with window functions; ver_to NULL = image
    // still current at the latest version
    "x133_cdc_scd2" ->
      """WITH base AS (
        | SELECT o_orderkey AS k, o_custkey AS c, o_orderstatus AS s,
        |  o_totalprice AS p
        | FROM orders WHERE o_orderkey % 3 = 0
        |),
        |v1 AS (
        | SELECT k, c, s, CASE WHEN k % 10 = 3 THEN p + 1.0 ELSE p END AS p
        | FROM base
        | UNION ALL SELECT -k, c, s, p FROM base WHERE k % 100 = 7
        |),
        |v2 AS (SELECT * FROM v1
        |       WHERE k NOT IN (SELECT k FROM base WHERE k % 10 = 4)),
        |allv AS (
        | SELECT 0 AS v, k, c, s, p FROM base
        | UNION ALL SELECT 1, k, c, s, p FROM v1
        | UNION ALL SELECT 2, k, c, s, p FROM v2
        |),
        |m AS (SELECT *, CASE WHEN lag(v) OVER w IS NULL
        |        OR lag(v) OVER w <> v - 1
        |        OR lag(c) OVER w IS DISTINCT FROM c
        |        OR lag(s) OVER w IS DISTINCT FROM s
        |        OR lag(p) OVER w IS DISTINCT FROM p
        |       THEN 1 ELSE 0 END AS st
        |      FROM allv WINDOW w AS (PARTITION BY k ORDER BY v)),
        |r AS (SELECT *, SUM(st) OVER
        |       (PARTITION BY k ORDER BY v) AS run FROM m),
        |runs AS (SELECT k, p, MIN(v) AS ver_from,
        |          CASE WHEN MAX(v) = 2 THEN NULL ELSE MAX(v) END AS ver_to
        |         FROM r GROUP BY k, c, s, p, run)
        |SELECT ver_from, ver_to, CAST(COUNT(*) AS BIGINT) AS n,
        | CAST(SUM(k) AS BIGINT) AS key_sum,
        | CAST(SUM(CAST(p AS DECIMAL(18,2))) AS DOUBLE) AS price_sum
        |FROM runs GROUP BY 1, 2 ORDER BY 1, 2 NULLS FIRST""".stripMargin,
    // association rules: distinct baskets, pair counts, both rule
    // directions, single exact-ratio divisions (no rounding needed)
    "x85_assoc_rules" ->
      """WITH b AS (
        | SELECT DISTINCT l_orderkey AS t, l_partkey AS i FROM lineitem
        | WHERE l_orderkey % 2 = 0
        |), nt AS (SELECT count(DISTINCT t) AS n_txn FROM b),
        |ic AS (SELECT i, count(*) AS c FROM b GROUP BY 1),
        |p AS (
        | SELECT a.i AS ia, bb.i AS ib, count(*) AS n_ab
        | FROM b a JOIN b bb ON a.t = bb.t AND a.i < bb.i
        | GROUP BY 1, 2 HAVING count(*) >= 3
        |), d AS (
        | SELECT ia AS ante, ib AS cons, n_ab FROM p
        | UNION ALL SELECT ib, ia, n_ab FROM p
        |)
        |SELECT d.ante AS antecedent, d.cons AS consequent,
        | CAST(d.n_ab AS BIGINT) AS n_ab,
        | CAST(ca.c AS BIGINT) AS n_ante, CAST(cb.c AS BIGINT) AS n_cons,
        | CAST(nt.n_txn AS BIGINT) AS n_txn,
        | CAST(d.n_ab AS DOUBLE) / CAST(nt.n_txn AS DOUBLE) AS support,
        | CAST(d.n_ab AS DOUBLE) / CAST(ca.c AS DOUBLE) AS confidence,
        | CAST(d.n_ab * nt.n_txn AS DOUBLE)
        |   / CAST(ca.c * cb.c AS DOUBLE) AS lift
        |FROM d JOIN ic ca ON ca.i = d.ante JOIN ic cb ON cb.i = d.cons
        |CROSS JOIN nt
        |ORDER BY lift DESC, antecedent, consequent LIMIT 100""".stripMargin,
    // OHLC bars: open/close via the (ts,id)-total-order row_number
    // formulation (the engine needs no window; the oracle does)
    "x86_ohlc_bars" ->
      """WITH base AS (
        | SELECT event_type AS k,
        |  (epoch_us(ts) // 3600000000) * 3600 AS p, value AS v,
        |  ts, event_id
        | FROM events
        |), rk AS (
        | SELECT k, p, v,
        |  row_number() OVER (PARTITION BY k, p
        |    ORDER BY ts, event_id) AS ra,
        |  row_number() OVER (PARTITION BY k, p
        |    ORDER BY ts DESC, event_id DESC) AS rd
        | FROM base
        |)
        |SELECT k AS event_type, CAST(p AS BIGINT) AS period_start,
        | max(CASE WHEN ra = 1 THEN v END) AS open,
        | max(v) AS high, min(v) AS low,
        | max(CASE WHEN rd = 1 THEN v END) AS close,
        | CAST(count(*) AS BIGINT) AS n,
        | CAST(sum(CAST(v AS DECIMAL(38,6))) AS DOUBLE) AS vsum
        |FROM rk GROUP BY 1, 2
        |ORDER BY event_type, period_start""".stripMargin,
    // collocations: exact bigram/unigram/total counts + the mirrored
    // PMI double formula behind 6dp rounding; ln (natural), not log10
    "x87_collocations" ->
      """WITH lt AS (
        | SELECT doc_id,
        |  list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |    tk -> length(tk) > 0) AS t
        | FROM documents
        |), ex AS MATERIALIZED (
        | SELECT doc_id, u.i AS pos, u.w FROM (
        |  SELECT doc_id, unnest(list_transform(range(1, len(t) + 1),
        |    i -> {'i': i, 'w': t[CAST(i AS INT)]})) AS u FROM lt)
        |), uni AS (SELECT w, COUNT(*) AS c FROM ex GROUP BY 1),
        |tot AS (SELECT COUNT(*) AS n FROM ex),
        |bg AS (
        | SELECT w1, w2, COUNT(*) AS n_ab FROM (
        |  SELECT doc_id, w AS w1,
        |   lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
        |  FROM ex) WHERE w2 IS NOT NULL
        | GROUP BY 1, 2 HAVING COUNT(*) >= 5
        |)
        |SELECT w1, w2, CAST(n_ab AS BIGINT) AS n_ab,
        | round(ln(CAST(n_ab AS DOUBLE) * CAST(n AS DOUBLE)
        |   / (CAST(ca.c AS DOUBLE) * CAST(cb.c AS DOUBLE))), 6) AS pmi
        |FROM bg JOIN uni ca ON ca.w = bg.w1 JOIN uni cb ON cb.w = bg.w2
        |CROSS JOIN tot
        |ORDER BY pmi DESC, w1, w2 LIMIT 50""".stripMargin,
    "x80_event_transitions" ->
      """WITH seq AS (
        | SELECT event_type AS cur,
        |  lead(event_type) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS next
        | FROM events
        |), pc AS (
        | SELECT cur, next, COUNT(*) AS n FROM seq
        | WHERE next IS NOT NULL GROUP BY 1, 2
        |), tot AS (
        | SELECT cur, SUM(n) AS t FROM pc GROUP BY 1
        |)
        |SELECT pc.cur, pc.next, CAST(pc.n AS BIGINT) AS n,
        | CAST(pc.n AS DOUBLE) / CAST(t AS DOUBLE) AS p
        |FROM pc JOIN tot USING (cur)
        |ORDER BY cur, next""".stripMargin,
    // hourly anomaly z-scores: exact trailing sums, mirrored derived
    // arithmetic behind 6dp rounding
    "x79_event_anomalies" ->
      """WITH counts AS (
        | SELECT event_type AS k,
        |  (epoch_us(ts) // 3600000000) * 3600 AS p, COUNT(*) AS n
        | FROM events GROUP BY 1, 2
        |), tr AS (
        | SELECT k, p, n,
        |  COUNT(n) OVER w AS tn, SUM(n) OVER w AS ts_,
        |  SUM(n * n) OVER w AS tq
        | FROM counts
        | WINDOW w AS (PARTITION BY k ORDER BY p
        |   RANGE BETWEEN 86400 PRECEDING AND 3600 PRECEDING)
        |)
        |SELECT k AS event_type, CAST(p AS BIGINT) AS period_start,
        | CAST(n AS BIGINT) AS n,
        | CAST(coalesce(tn, 0) AS BIGINT) AS trail_n,
        | CASE WHEN tn >= 6 THEN
        |   round(CAST(ts_ AS DOUBLE) / CAST(tn AS DOUBLE), 6)
        | END AS trail_mean,
        | CASE WHEN tn >= 6 AND greatest(
        |    CAST(tq AS DOUBLE) / CAST(tn AS DOUBLE)
        |     - (CAST(ts_ AS DOUBLE) / CAST(tn AS DOUBLE))
        |       * (CAST(ts_ AS DOUBLE) / CAST(tn AS DOUBLE)), 0.0) > 0.0
        |  THEN round((CAST(n AS DOUBLE)
        |     - CAST(ts_ AS DOUBLE) / CAST(tn AS DOUBLE))
        |   / sqrt(greatest(CAST(tq AS DOUBLE) / CAST(tn AS DOUBLE)
        |     - (CAST(ts_ AS DOUBLE) / CAST(tn AS DOUBLE))
        |       * (CAST(ts_ AS DOUBLE) / CAST(tn AS DOUBLE)), 0.0)), 6)
        | END AS z
        |FROM tr ORDER BY event_type, period_start""".stripMargin,
    // session paths: x10's gaps-and-islands + ordered type sequences
    "x78_session_paths" ->
      """WITH flagged AS (
        | SELECT user_id, event_id, ts, event_type,
        |  CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |    OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
        |   THEN 1 ELSE 0 END AS new_s
        | FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), sess AS (
        | SELECT user_id, event_id, ts, event_type,
        |  SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS session_seq
        | FROM flagged
        |), p AS (
        | SELECT array_to_string(list_slice(
        |   list(event_type ORDER BY ts, event_id), 1, 5), ' > ') AS path
        | FROM sess GROUP BY user_id, session_seq
        |)
        |SELECT path, CAST(COUNT(*) AS BIGINT) AS sessions FROM p
        |GROUP BY path ORDER BY sessions DESC, path LIMIT 10""".stripMargin,
    // banned phrases: doc-0 bigram lexicon derivation + per-doc distinct
    // substring-presence counts
    "x77_banned_phrases" ->
      """WITH t0 AS (
        | SELECT list_filter(string_split_regex(trim(text), '\s+'),
        |   tk -> length(tk) > 0) AS t
        | FROM documents WHERE doc_id = 0
        |), ph AS (
        | SELECT p FROM (
        |  SELECT p, MIN(i) AS fo FROM (
        |   SELECT t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT)+1] AS p, i
        |   FROM (SELECT t, unnest(range(1, len(t))) AS i FROM t0))
        |  GROUP BY p)
        | ORDER BY fo LIMIT 8
        |)
        |SELECT d.doc_id,
        | CAST(SUM(CASE WHEN contains(d.text, ph.p) THEN 1 ELSE 0 END)
        |   AS BIGINT) AS n_banned
        |FROM documents d CROSS JOIN ph
        |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin,
    // cross containment: exact ref-side containment over string shingles
    // on the padded-plant split
    "x76_cross_containment" -> (
      """WITH refd AS (
        | SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
        |), corp AS (
        | SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0
        | UNION ALL
        | SELECT doc_id + 2000000, text || ' """ + containPad +
        """' FROM refd WHERE doc_id < 60
        |), shc AS MATERIALIZED (
        | SELECT doc_id, unnest(s) AS g FROM (
        |  SELECT doc_id,
        |   CASE WHEN len(t) >= 3 THEN
        |     list_distinct(list_transform(range(1, len(t) - 1),
        |       i -> t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT)+1]
        |            || ' ' || t[CAST(i AS INT)+2]))
        |   ELSE [array_to_string(t, ' ')] END AS s
        |  FROM (SELECT doc_id, list_filter(
        |         string_split_regex(trim(text), '\s+'),
        |         tk -> length(tk) > 0) AS t FROM corp))
        |), shr AS MATERIALIZED (
        | SELECT doc_id, unnest(s) AS g FROM (
        |  SELECT doc_id,
        |   CASE WHEN len(t) >= 3 THEN
        |     list_distinct(list_transform(range(1, len(t) - 1),
        |       i -> t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT)+1]
        |            || ' ' || t[CAST(i AS INT)+2]))
        |   ELSE [array_to_string(t, ' ')] END AS s
        |  FROM (SELECT doc_id, list_filter(
        |         string_split_regex(trim(text), '\s+'),
        |         tk -> length(tk) > 0) AS t FROM refd))
        |), szr AS (
        | SELECT doc_id, count(*) AS n FROM shr GROUP BY 1
        |), inter AS (
        | SELECT c.doc_id AS cid, r.doc_id AS rid, count(*) AS i
        | FROM shc c JOIN shr r ON c.g = r.g GROUP BY 1, 2
        |)
        |SELECT cid AS corpus_id, rid AS ref_id, CAST(i AS BIGINT)
        |  AS shared,
        | CAST(szr.n AS BIGINT) AS ref_size,
        | CAST(i AS DOUBLE) / szr.n AS containment
        |FROM inter JOIN szr ON szr.doc_id = rid
        |WHERE CAST(i AS DOUBLE) / szr.n >= 0.8
        |ORDER BY corpus_id, ref_id""").stripMargin,
    // textrank: token co-occurrence PageRank, 3 unrolled iterations with
    // mirrored double arithmetic behind 6dp rounding
    "x75_textrank" ->
      """WITH ex AS MATERIALIZED (
        | SELECT doc_id, u.i AS pos, u.w FROM (
        |  SELECT doc_id, unnest(list_transform(range(1, len(t) + 1),
        |    i -> {'i': i, 'w': t[CAST(i AS INT)]})) AS u
        |  FROM (SELECT doc_id,
        |    list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |      tk -> length(tk) > 0) AS t FROM documents))
        |), vocab AS MATERIALIZED (
        | SELECT w FROM ex GROUP BY w
        | ORDER BY COUNT(*) DESC, w ASC LIMIT 4096
        |), bg AS MATERIALIZED (
        | SELECT w AS a, w2 AS b FROM (
        |  SELECT doc_id, pos, w,
        |   lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
        |  FROM ex)
        | WHERE w2 IS NOT NULL AND w <> w2
        |  AND w IN (SELECT w FROM vocab) AND w2 IN (SELECT w FROM vocab)
        |), ed AS MATERIALIZED (
        | SELECT src, dst, COUNT(*) AS wt FROM (
        |  SELECT a AS src, b AS dst FROM bg
        |  UNION ALL SELECT b AS src, a AS dst FROM bg)
        | GROUP BY 1, 2
        |), dg AS MATERIALIZED (
        | SELECT src, SUM(wt) AS deg FROM ed GROUP BY 1
        |), nn AS (
        | SELECT COUNT(*) AS n FROM dg
        |), p0 AS (
        | SELECT src AS nd, CAST(1.0 AS DOUBLE) / n AS pr
        | FROM dg CROSS JOIN nn
        |), p1 AS MATERIALIZED (
        | SELECT dst AS nd,
        |  (1.0 - CAST(0.85 AS DOUBLE)) / any_value(nn.n)
        |   + CAST(0.85 AS DOUBLE) * SUM(
        |      CAST(wt AS DOUBLE) / CAST(deg AS DOUBLE) * pr) AS pr
        | FROM ed JOIN dg USING (src) JOIN p0 ON p0.nd = ed.src
        |  CROSS JOIN nn
        | GROUP BY dst
        |), p2 AS MATERIALIZED (
        | SELECT dst AS nd,
        |  (1.0 - CAST(0.85 AS DOUBLE)) / any_value(nn.n)
        |   + CAST(0.85 AS DOUBLE) * SUM(
        |      CAST(wt AS DOUBLE) / CAST(deg AS DOUBLE) * pr) AS pr
        | FROM ed JOIN dg USING (src) JOIN p1 ON p1.nd = ed.src
        |  CROSS JOIN nn
        | GROUP BY dst
        |), p3 AS (
        | SELECT dst AS nd,
        |  (1.0 - CAST(0.85 AS DOUBLE)) / any_value(nn.n)
        |   + CAST(0.85 AS DOUBLE) * SUM(
        |      CAST(wt AS DOUBLE) / CAST(deg AS DOUBLE) * pr) AS pr
        | FROM ed JOIN dg USING (src) JOIN p2 ON p2.nd = ed.src
        |  CROSS JOIN nn
        | GROUP BY dst
        |)
        |SELECT nd AS token, ROUND(pr, 6) AS score FROM p3
        |ORDER BY ROUND(pr, 6) DESC, nd ASC LIMIT 20""".stripMargin,
    // blocked fuzzy match: same three blocking passes + exact levenshtein
    "x74_fuzzy_match" ->
      """WITH c AS (
        | SELECT c_custkey AS id, c_name AS n FROM customer
        |), b AS (
        | SELECT 0 AS pass, substr(n, 1, 16) AS bk, id FROM c
        | UNION ALL SELECT 1, substr(n, -3, 3), id FROM c
        | UNION ALL SELECT 2, substr(n, 1, 15) || substr(n, 17, 2), id
        |  FROM c
        |), pr AS (
        | SELECT DISTINCT least(a.id, b2.id) AS ia,
        |  greatest(a.id, b2.id) AS ib
        | FROM b a JOIN b b2
        |  ON a.pass = b2.pass AND a.bk = b2.bk AND a.id < b2.id
        |)
        |SELECT ia AS id_a, ib AS id_b, ca.n AS name_a, cb.n AS name_b,
        | CAST(levenshtein(ca.n, cb.n) AS BIGINT) AS distance
        |FROM pr JOIN c ca ON ca.id = ia JOIN c cb ON cb.id = ib
        |WHERE levenshtein(ca.n, cb.n) <= 1
        |ORDER BY id_a, id_b""".stripMargin,
    // homoglyph dedup: skeleton replayed as a replace chain over exactly
    // the planted confusables (the corpus is ASCII otherwise), then the
    // x02 ws/case normalization, min-id per group
    "x73_homoglyph_dedup" ->
      """WITH corpus AS (
        | SELECT doc_id, text FROM documents
        | UNION ALL
        | SELECT doc_id + 3000000,
        |  chr(8203) || translate(text, 'aeo',
        |    chr(1072) || chr(1077) || chr(1086))
        | FROM documents WHERE doc_id < 25
        |), sk AS (
        | SELECT doc_id, lower(trim(regexp_replace(
        |   replace(replace(replace(replace(text,
        |     chr(1072), 'a'), chr(1077), 'e'), chr(1086), 'o'),
        |     chr(8203), ''),
        |   '\s+', ' ', 'g'))) AS s
        | FROM corpus
        |)
        |SELECT MIN(doc_id) AS doc_id FROM sk GROUP BY s
        |ORDER BY doc_id""".stripMargin,
    // containment: exact distinct-shingle intersections over string
    // shingles (engine side hashes them — x55's 2^-64 collision
    // convention), one division per pair
    "x71_containment" ->
      """WITH sh AS (
        | SELECT doc_id, unnest(s) AS g FROM (
        |  SELECT doc_id,
        |   CASE WHEN len(t) >= 3 THEN
        |     list_distinct(list_transform(range(1, len(t) - 1),
        |       i -> t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT)+1]
        |            || ' ' || t[CAST(i AS INT)+2]))
        |   ELSE [array_to_string(t, ' ')] END AS s
        |  FROM (SELECT doc_id, list_filter(
        |         string_split_regex(trim(text), '\s+'),
        |         tk -> length(tk) > 0) AS t FROM documents))
        |), sz AS (
        | SELECT doc_id, count(*) AS n FROM sh GROUP BY 1
        |), inter AS (
        | SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS i
        | FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
        | GROUP BY 1, 2
        |)
        |SELECT ia AS id_a, ib AS id_b, CAST(i AS BIGINT) AS shared,
        | CAST(sa.n AS BIGINT) AS size_a, CAST(sb.n AS BIGINT) AS size_b,
        | CAST(i AS DOUBLE) / least(sa.n, sb.n) AS containment
        |FROM inter JOIN sz sa ON sa.doc_id = ia
        |           JOIN sz sb ON sb.doc_id = ib
        |WHERE CAST(i AS DOUBLE) / least(sa.n, sb.n) >= 0.5
        |ORDER BY id_a, id_b""".stripMargin,
    // BPE training: all 6 rounds replayed in unrolled SQL
    "x69_bpe_train" -> bpeOracleSql(6),
    // BPE encoding: the trained tokenizer's top-30 vocabulary histogram
    "x70_bpe_encode" -> bpeEncodeOracleSql(6, 30),
    // event funnel: first-qualifying chain with exact micros window edges
    "x66_event_funnel" ->
      """WITH t1 AS (
        | SELECT user_id, MIN(ts) AS t1 FROM events
        | WHERE event_type = 'view' GROUP BY 1
        |), t2 AS (
        | SELECT e.user_id, MIN(e.ts) AS t2 FROM events e
        | JOIN t1 ON e.user_id = t1.user_id
        | WHERE e.event_type = 'click' AND e.ts > t1.t1
        |   AND epoch_us(e.ts) - epoch_us(t1.t1) <= 86400000000
        | GROUP BY 1
        |), t3 AS (
        | SELECT e.user_id, MIN(e.ts) AS t3 FROM events e
        | JOIN t2 ON e.user_id = t2.user_id
        | WHERE e.event_type = 'purchase' AND e.ts > t2.t2
        |   AND epoch_us(e.ts) - epoch_us(t2.t2) <= 86400000000
        | GROUP BY 1
        |)
        |SELECT
        | (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM events)
        |   AS n_users,
        | (SELECT CAST(COUNT(*) AS BIGINT) FROM t1) AS n_s1,
        | (SELECT CAST(COUNT(*) AS BIGINT) FROM t2) AS n_s12,
        | (SELECT CAST(COUNT(*) AS BIGINT) FROM t3) AS n_s123,
        | CASE WHEN (SELECT COUNT(*) FROM t1) > 0 THEN
        |   CAST((SELECT COUNT(*) FROM t2) AS DOUBLE)
        |     / (SELECT COUNT(*) FROM t1) ELSE 0.0 END AS rate_s2,
        | CASE WHEN (SELECT COUNT(*) FROM t2) > 0 THEN
        |   CAST((SELECT COUNT(*) FROM t3) AS DOUBLE)
        |     / (SELECT COUNT(*) FROM t2) ELSE 0.0 END AS rate_s3""".stripMargin,
    // diversity sampling: cluster structure is engine-specific — the
    // oracle pins the selection laws (booleans) + the corpus anchor
    "x56_diversity_sample" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_corpus,
        | TRUE AS cap_ok, TRUE AS full_ok, TRUE AS proto_ok,
        | TRUE AS distinct_ok, TRUE AS subset_ok
        |FROM embeddings""".stripMargin,
    // band join: the inequality-join replica is exact (integer micros)
    "x58_range_join" ->
      """SELECT e.event_id AS err_id, c.event_id AS click_id
        |FROM events e JOIN events c ON e.user_id = c.user_id
        | AND e.event_type = 'error' AND c.event_type = 'click'
        | AND epoch_us(c.ts) BETWEEN epoch_us(e.ts) - 21600000000
        |   AND epoch_us(e.ts) + 21600000000
        |ORDER BY err_id, click_id""".stripMargin,
    // optimizer-rewritten BETWEEN join (no equi key): the raw inequality
    // join replayed directly — DuckDB's IEJoin evaluates the quadratic
    // form the RangeJoinRewrite plan avoids
    "x100_rangejoin_rewrite" ->
      """SELECT CAST(e.event_id % 16 AS BIGINT) AS bucket,
        | CAST(COUNT(*) AS BIGINT) AS n_pairs,
        | CAST(COUNT(DISTINCT c.event_id) AS BIGINT) AS n_clicks
        |FROM events e JOIN events c
        | ON e.event_type = 'error' AND c.event_type = 'click'
        | AND epoch_us(c.ts) BETWEEN epoch_us(e.ts) - 21600000000
        |   AND epoch_us(e.ts) + 21600000000
        |GROUP BY 1 ORDER BY bucket""".stripMargin,
    // k-anonymity: the generalize-then-suppress ladder replayed literally —
    // level-0 class counts, window-pooled level-1/2 sizes, k=15 cuts
    "x102_k_anonymity" ->
      """WITH base AS (
        | SELECT CAST(c_nationkey AS VARCHAR) AS nat, c_mktsegment AS seg
        | FROM customer
        |), g0 AS (
        | SELECT nat, seg, COUNT(*) AS n0 FROM base GROUP BY 1, 2
        |), k0 AS (SELECT nat, seg, n0 FROM g0 WHERE n0 >= 15
        |), p1 AS (
        | SELECT nat, seg, n0, SUM(n0) OVER (PARTITION BY nat) AS n1
        | FROM g0 WHERE n0 < 15
        |), k1 AS (SELECT nat, n0 FROM p1 WHERE n1 >= 15
        |), p2 AS (
        | SELECT n0, SUM(n0) OVER () AS n2 FROM p1 WHERE n1 < 15
        |)
        |SELECT nat, seg, lvl, n FROM (
        | SELECT nat, seg, CAST(0 AS BIGINT) AS lvl,
        |  CAST(n0 AS BIGINT) AS n FROM k0
        | UNION ALL
        | SELECT nat, '*', CAST(1 AS BIGINT), CAST(SUM(n0) AS BIGINT)
        | FROM k1 GROUP BY nat
        | UNION ALL
        | SELECT '*', '*', CAST(2 AS BIGINT), CAST(SUM(n0) AS BIGINT)
        | FROM p2 WHERE n2 >= 15 HAVING COUNT(*) > 0
        |) ORDER BY lvl, nat, seg""".stripMargin,
    // TIMESTAMP-axis rewritten BETWEEN join: raw inequality replayed at
    // micro precision (epoch_us), matching the engine's micros-normalized
    // TIMESTAMP — DuckDB IEJoins the quadratic form the rewrite avoids
    "x103_rangejoin_time" ->
      """SELECT CAST(w.event_id % 8 AS BIGINT) AS bucket,
        | CAST(COUNT(*) AS BIGINT) AS n_pairs,
        | CAST(COUNT(DISTINCT c.event_id) AS BIGINT) AS n_clicks
        |FROM events w JOIN events c
        | ON w.event_type = 'purchase' AND c.event_type = 'click'
        | AND epoch_us(c.ts) BETWEEN epoch_us(w.ts) - 7200000000
        |   AND epoch_us(w.ts) + 7200000000
        |GROUP BY 1 ORDER BY bucket""".stripMargin,
    // LEFT OUTER rewritten BETWEEN join: raw outer inequality replayed
    // at micro precision; sparse windows make most clicks unmatched
    "x104_rangejoin_leftouter" ->
      """SELECT CAST(c.event_id % 8 AS BIGINT) AS bucket,
        | CAST(COUNT(*) AS BIGINT) AS n_rows,
        | CAST(COUNT(w.event_id) AS BIGINT) AS n_matched,
        | CAST(SUM(CASE WHEN w.event_id IS NULL THEN 1 ELSE 0 END)
        |   AS BIGINT) AS n_unmatched
        |FROM (SELECT * FROM events WHERE event_type = 'click') c
        |LEFT JOIN (SELECT * FROM events
        |  WHERE event_type = 'purchase' AND event_id % 5 = 0) w
        | ON epoch_us(c.ts) BETWEEN epoch_us(w.ts) - 1200000000
        |   AND epoch_us(w.ts) + 1200000000
        |GROUP BY 1 ORDER BY bucket""".stripMargin,
    // DATE-axis rewritten BETWEEN join: monthly 10-day windows replayed
    // with a generate_series frame; money via the DECIMAL(18,2) contract
    "x105_rangejoin_date" ->
      """WITH w AS (SELECT CAST(unnest(generate_series(
        |   DATE '1995-01-01', DATE '2001-08-01', INTERVAL 1 MONTH))
        |   AS DATE) AS ws)
        |SELECT strftime(w.ws, '%Y-%m-%d') AS window_start,
        | CAST(COUNT(*) AS BIGINT) AS n_orders,
        | CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |   AS revenue
        |FROM orders o JOIN w
        | ON CAST(o.o_orderdate AS DATE)
        |   BETWEEN w.ws AND w.ws + INTERVAL 9 DAY
        |GROUP BY w.ws ORDER BY window_start""".stripMargin,
    // DECIMAL-axis rewritten BETWEEN join: fixed $1000 price bands
    // every $5000 replayed with a generate_series frame; the engine
    // buckets on the unscaled (cents) view, DuckDB IEJoins the raw form
    "x118_rangejoin_decimal" ->
      """WITH o2 AS (SELECT o_orderkey,
        |   CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
        |     * CAST(0.01 AS DECIMAL(3,2)) AS DECIMAL(15,2)) AS price
        | FROM orders),
        |b AS (SELECT CAST(s AS DECIMAL(15,2)) AS lo,
        |   CAST(s + 999.99 AS DECIMAL(15,2)) AS hi
        | FROM (SELECT unnest(generate_series(0, 550000, 5000)) AS s))
        |SELECT CAST(b.lo AS DOUBLE) AS band_lo,
        | CAST(COUNT(*) AS BIGINT) AS n_orders,
        | CAST(SUM(CAST(o2.price AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM o2 JOIN b
        | ON o2.price BETWEEN b.lo AND b.hi
        |GROUP BY b.lo ORDER BY band_lo""".stripMargin,
    // decimal overlap RIGHT OUTER: same canonical-cents price, ±$200
    // intervals against fixed bands, bands preserved
    "x130_rangejoin_overlap_router" ->
      """WITH o2 AS (SELECT o_orderkey,
        |   CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
        |     * CAST(0.01 AS DECIMAL(3,2)) AS DECIMAL(15,2)) AS price
        | FROM orders),
        |o3 AS (SELECT o_orderkey, price,
        |   CAST(price - 200 AS DECIMAL(15,2)) AS lo,
        |   CAST(price + 200 AS DECIMAL(15,2)) AS hi FROM o2),
        |b AS (SELECT CAST(s AS DECIMAL(15,2)) AS lo,
        |   CAST(s + 999.99 AS DECIMAL(15,2)) AS hi
        | FROM (SELECT unnest(generate_series(0, 550000, 25000)) AS s))
        |SELECT CAST(b.lo AS DOUBLE) AS band_lo,
        | CAST(COUNT(o3.o_orderkey) AS BIGINT) AS n_orders,
        | CAST(SUM(CAST(o3.price AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_price
        |FROM o3 RIGHT JOIN b ON o3.lo <= b.hi AND b.lo <= o3.hi
        |GROUP BY b.lo ORDER BY band_lo""".stripMargin,
    // SEMI (EXISTS) rewritten range join: correlated EXISTS replayed at
    // micro precision over the same sparse ±15-minute windows
    "x119_rangejoin_semi" ->
      """SELECT CAST(c.event_id % 8 AS BIGINT) AS bucket,
        | CAST(COUNT(*) AS BIGINT) AS n_clicks
        |FROM events c
        |WHERE c.event_type = 'click' AND EXISTS (
        |  SELECT 1 FROM events w
        |  WHERE w.event_type = 'purchase' AND w.event_id % 5 = 0
        |   AND epoch_us(c.ts) BETWEEN epoch_us(w.ts) - 900000000
        |     AND epoch_us(w.ts) + 900000000)
        |GROUP BY 1 ORDER BY bucket""".stripMargin,
    // reconciliation examples: the perturbed join replayed per differing
    // column with the profiler's renderings; row_number per column over
    // the string key order, top 5 — only the two perturbed columns can
    // differ, so their branches ARE the full diffExamples result
    "x121_reconcile_examples" ->
      """WITH p AS (
        | SELECT o_orderkey,
        |  CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1.0
        |       ELSE o_totalprice END AS o_totalprice,
        |  CASE WHEN o_orderkey % 23 = 0 THEN '9-BOGUS'
        |       ELSE o_orderpriority END AS o_orderpriority
        | FROM orders WHERE o_orderkey % 13 <> 0
        | UNION ALL
        | SELECT -o_orderkey, o_totalprice, o_orderpriority
        | FROM orders WHERE o_orderkey % 11 = 0
        |), d AS (
        | SELECT 'o_totalprice' AS col_name,
        |  CAST(a.o_orderkey AS VARCHAR) AS key_s,
        |  CAST(CAST(a.o_totalprice AS DECIMAL(18,2)) AS VARCHAR)
        |    AS a_value,
        |  CAST(CAST(b.o_totalprice AS DECIMAL(18,2)) AS VARCHAR)
        |    AS b_value
        | FROM orders a JOIN p b USING (o_orderkey)
        | WHERE a.o_totalprice IS DISTINCT FROM b.o_totalprice
        | UNION ALL
        | SELECT 'o_orderpriority', CAST(a.o_orderkey AS VARCHAR),
        |  a.o_orderpriority, b.o_orderpriority
        | FROM orders a JOIN p b USING (o_orderkey)
        | WHERE a.o_orderpriority IS DISTINCT FROM b.o_orderpriority
        | UNION ALL
        | SELECT 'only_in_a', CAST(a.o_orderkey AS VARCHAR),
        |  CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
        | FROM orders a WHERE NOT EXISTS (
        |  SELECT 1 FROM p WHERE p.o_orderkey = a.o_orderkey)
        | UNION ALL
        | SELECT 'only_in_b', CAST(b.o_orderkey AS VARCHAR),
        |  CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
        | FROM p b WHERE NOT EXISTS (
        |  SELECT 1 FROM orders a WHERE a.o_orderkey = b.o_orderkey)
        |), r AS (
        | SELECT *, row_number() OVER (PARTITION BY col_name
        |   ORDER BY key_s) AS rn FROM d
        |)
        |SELECT col_name, key_s, a_value, b_value FROM r WHERE rn <= 5
        |ORDER BY col_name, key_s""".stripMargin,
    // ANTI overlap rewrite: x91's sessionization CTE + correlated
    // NOT EXISTS over the two-sided overlap inequality, micro precision
    "x125_rangejoin_anti_overlap" ->
      """WITH flagged AS (
        | SELECT user_id, event_id, ts,
        |  CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |    OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
        |   THEN 1 ELSE 0 END AS new_s
        | FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), sess AS (
        | SELECT user_id, ts,
        |  SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS session_seq
        | FROM flagged
        |), iv AS (
        | SELECT user_id, MIN(epoch_us(ts)) AS s_us, MAX(epoch_us(ts)) AS e_us
        | FROM sess GROUP BY user_id, session_seq
        |)
        |SELECT CAST(c.user_id % 8 AS BIGINT) AS bucket,
        | CAST(COUNT(*) AS BIGINT) AS n_isolated,
        | CAST(COUNT(DISTINCT c.user_id) AS BIGINT) AS n_users
        |FROM iv c
        |WHERE c.user_id % 20 = 0 AND NOT EXISTS (
        |  SELECT 1 FROM iv o
        |  WHERE o.user_id % 20 != 0
        |   AND c.s_us <= o.e_us AND o.s_us <= c.e_us)
        |GROUP BY 1 ORDER BY bucket""".stripMargin,
    // exact cross-corpus ssjoin: x63's split + planted probes, but the
    // FULL exact pair stream at 0.7 (all-pairs string-shingle Jaccard
    // replay — the oracle IS the recall claim, like x115)
    "x124_cross_prefix_pairs" ->
      """WITH refd AS (
        | SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
        |), corp AS (
        | SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0
        | UNION ALL
        | SELECT doc_id + 1000000, text || ' graft cross probe' FROM refd
        | WHERE doc_id < 30
        |), exc AS MATERIALIZED (
        | SELECT doc_id, unnest(s) AS g FROM (
        |  SELECT doc_id,
        |   CASE WHEN len(t) >= 3 THEN
        |     list_distinct(list_transform(range(1, len(t) - 1),
        |       i -> t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT)+1]
        |            || ' ' || t[CAST(i AS INT)+2]))
        |   ELSE [array_to_string(t, ' ')] END AS s
        |  FROM (SELECT doc_id, list_filter(
        |         string_split_regex(trim(text), '\s+'),
        |         tk -> length(tk) > 0) AS t FROM corp))
        |), exr AS MATERIALIZED (
        | SELECT doc_id, unnest(s) AS g FROM (
        |  SELECT doc_id,
        |   CASE WHEN len(t) >= 3 THEN
        |     list_distinct(list_transform(range(1, len(t) - 1),
        |       i -> t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT)+1]
        |            || ' ' || t[CAST(i AS INT)+2]))
        |   ELSE [array_to_string(t, ' ')] END AS s
        |  FROM (SELECT doc_id, list_filter(
        |         string_split_regex(trim(text), '\s+'),
        |         tk -> length(tk) > 0) AS t FROM refd))
        |), szc AS (SELECT doc_id, count(*) AS n FROM exc GROUP BY 1),
        |szr AS (SELECT doc_id, count(*) AS n FROM exr GROUP BY 1),
        |inter AS (
        | SELECT c.doc_id AS cid, r.doc_id AS rid, count(*) AS i
        | FROM exc c JOIN exr r ON c.g = r.g GROUP BY 1, 2
        |)
        |SELECT cid AS id_l, rid AS id_r,
        | CAST(i AS DOUBLE) / (szc.n + szr.n - i) AS jaccard
        |FROM inter
        |JOIN szc ON szc.doc_id = cid JOIN szr ON szr.doc_id = rid
        |WHERE CAST(i AS DOUBLE) / (szc.n + szr.n - i) >= 0.7
        |ORDER BY id_l, id_r""".stripMargin,
    // blocking pre-flight: the three x74 passes' block-size histograms
    // and implied pair costs replayed with exact integer arithmetic
    "x123_block_profile" ->
      """WITH b AS (
        | SELECT CAST(0 AS BIGINT) AS pass,
        |  substr(c_name, 1, 16) AS bk FROM customer
        | UNION ALL
        | SELECT 1, substr(c_name, length(c_name) - 2, 3) FROM customer
        | UNION ALL
        | SELECT 2, substr(c_name, 1, 15) || substr(c_name, 17, 2)
        | FROM customer
        |), g AS (
        | SELECT pass, bk, CAST(COUNT(*) AS BIGINT) AS c
        | FROM b GROUP BY 1, 2
        |)
        |SELECT pass,
        | CAST(COUNT(*) AS BIGINT) AS n_blocks,
        | CAST(SUM(c) AS BIGINT) AS n_rows,
        | CAST(MAX(c) AS BIGINT) AS max_block,
        | CAST(SUM(c*(c-1)//2) AS BIGINT) AS n_pairs,
        | CAST(SUM(CASE WHEN c > 2000 THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_blocks_over_cap,
        | CAST(SUM(CASE WHEN c > 2000 THEN c*(c-1)//2 ELSE 0 END)
        |   AS BIGINT) AS n_pairs_dropped
        |FROM g GROUP BY pass ORDER BY pass""".stripMargin,
    // grouped quantiles: per-priority quantile_cont replay, zipped
    // unnest (the x109 interpolation law makes full-double compare safe)
    "x122_grouped_quantiles" ->
      """WITH g AS (
        | SELECT o_orderpriority,
        |  quantile_cont(CAST(o_totalprice AS DOUBLE),
        |    [0.25, 0.5, 0.75, 0.95]) AS qs
        | FROM orders GROUP BY o_orderpriority
        |)
        |SELECT o_orderpriority, 'o_totalprice' AS col_name,
        | unnest([0.25, 0.5, 0.75, 0.95]) AS p,
        | unnest(qs) AS value
        |FROM g ORDER BY o_orderpriority, col_name, p""".stripMargin,
    // ANTI (NOT EXISTS) rewritten range join: the interval twin of the
    // reference's orphan check, replayed at micro precision
    "x120_rangejoin_anti" ->
      """SELECT CAST(c.event_id % 8 AS BIGINT) AS bucket,
        | CAST(COUNT(*) AS BIGINT) AS n_clicks
        |FROM events c
        |WHERE c.event_type = 'click' AND NOT EXISTS (
        |  SELECT 1 FROM events w
        |  WHERE w.event_type = 'purchase' AND w.event_id % 5 = 0
        |   AND epoch_us(c.ts) BETWEEN epoch_us(w.ts) - 900000000
        |     AND epoch_us(w.ts) + 900000000)
        |GROUP BY 1 ORDER BY bucket""".stripMargin,
    // one-pass profiler: each column's stats replayed as a UNION ALL
    // branch; renderings match the engine's per-type contract (plain
    // digits for integrals, DECIMAL(18,2) for doubles, second-precision
    // timestamps, strings as-is)
    "x106_column_profile" -> {
      def branch(c: String, minMax: String => String) =
        s"""SELECT '$c' AS col_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
           | CAST(COUNT($c) AS BIGINT) AS n_nonnull,
           | CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct,
           | ${minMax(s"MIN($c)")} AS min_s,
           | ${minMax(s"MAX($c)")} AS max_s FROM lineitem""".stripMargin
      val digits = (e: String) => s"CAST($e AS VARCHAR)"
      val dec2 = (e: String) => s"CAST(CAST($e AS DECIMAL(18,2)) AS VARCHAR)"
      val ts = (e: String) => s"strftime($e, '%Y-%m-%d %H:%M:%S')"
      val asis = (e: String) => e
      Seq(branch("l_orderkey", digits), branch("l_linenumber", digits),
        branch("l_quantity", dec2), branch("l_returnflag", asis),
        branch("l_linestatus", asis), branch("l_shipdate", ts))
        .mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
    },
    // grouped profiler: same per-type renderings, GROUP BY source added
    // to every UNION ALL branch
    "x107_grouped_profile" -> {
      def branch(c: String) =
        s"""SELECT source, '$c' AS col_name,
           | CAST(COUNT(*) AS BIGINT) AS n_rows,
           | CAST(COUNT($c) AS BIGINT) AS n_nonnull,
           | CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct,
           | CAST(MIN($c) AS VARCHAR) AS min_s,
           | CAST(MAX($c) AS VARCHAR) AS max_s
           |FROM documents GROUP BY source""".stripMargin
      Seq(branch("doc_id"), branch("lang"), branch("n_chars"))
        .mkString("", "\nUNION ALL\n", "\nORDER BY source, col_name")
    },
    // histogram drift: exact counts, shared edges from global min/max,
    // fractions are exact-count divisions and edges linear double math —
    // bit-reproducible at full double width (x57 precedent)
    "x108_histogram_drift" ->
      """WITH t AS (
        | SELECT CAST(o_totalprice AS DOUBLE) AS v,
        |   CASE WHEN o_orderdate < TIMESTAMP '1996-01-01' THEN 0
        |        ELSE 1 END AS s
        | FROM orders
        | WHERE o_totalprice IS NOT NULL AND o_orderdate IS NOT NULL),
        |mm AS (SELECT MIN(v) AS lo, MAX(v) AS hi FROM t),
        |b AS (
        | SELECT GREATEST(0,
        |   LEAST(CAST(FLOOR((v - lo) / ((hi - lo) / 16)) AS INT),
        |     15)) AS bin, s FROM t, mm),
        |c AS (
        | SELECT bin,
        |  CAST(SUM(CASE WHEN s = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS count_a,
        |  CAST(SUM(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS count_b
        | FROM b GROUP BY bin)
        |SELECT bin, lo + bin * ((hi - lo) / 16) AS bin_lo,
        | count_a, count_b,
        | CAST(count_a AS DOUBLE) / CAST(SUM(count_a) OVER () AS DOUBLE)
        |   AS frac_a,
        | CAST(count_b AS DOUBLE) / CAST(SUM(count_b) OVER () AS DOUBLE)
        |   AS frac_b,
        | ABS(CAST(count_a AS DOUBLE) / CAST(SUM(count_a) OVER () AS DOUBLE)
        |   - CAST(count_b AS DOUBLE) / CAST(SUM(count_b) OVER () AS DOUBLE))
        |   AS l1
        |FROM c, mm ORDER BY bin""".stripMargin,
    // full-outer range join: raw outer inequality join replayed at micro
    // precision, rolled into per-kind tallies
    "x110_rangejoin_fullouter" ->
      """WITH j AS (
        | SELECT c.event_id AS click_id, w.event_id AS win_id
        | FROM (SELECT * FROM events WHERE event_type = 'click') c
        | FULL JOIN (SELECT * FROM events
        |   WHERE event_type = 'purchase' AND event_id % 5 = 0) w
        |  ON epoch_us(c.ts) BETWEEN epoch_us(w.ts) - 300000000
        |    AND epoch_us(w.ts) + 300000000)
        |SELECT CASE WHEN click_id IS NULL THEN 'window_only'
        |            WHEN win_id IS NULL THEN 'click_only'
        |            ELSE 'matched' END AS kind,
        | CAST(COUNT(*) AS BIGINT) AS n_rows,
        | CAST(COUNT(DISTINCT click_id) AS BIGINT) AS n_clicks,
        | CAST(COUNT(DISTINCT win_id) AS BIGINT) AS n_windows
        |FROM j GROUP BY 1 ORDER BY kind""".stripMargin,
    // grouped checksums: same portable encodings, GROUP BY month added
    "x114_grouped_checksums" -> {
      // non-negative mod, matching the engine's pmod (see x112)
      def pm(e: String) = s"((($e) % 1000003 + 1000003) % 1000003)"
      def enc(c: String, e: String) =
        s"""SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m')
           |  AS month, '$c' AS col_name,
           | CAST(COUNT($c) AS BIGINT) AS n_nonnull,
           | CAST(COALESCE(SUM($e), 0) AS BIGINT) AS checksum
           |FROM orders GROUP BY 1""".stripMargin
      val fold =
        """CASE WHEN length(o_orderstatus) = 0 THEN 0 ELSE
          | list_reduce(list_transform(range(1, length(o_orderstatus) + 1),
          |   i -> unicode(o_orderstatus[CAST(i AS INT)])),
          |  (a, b) -> (a * 31 + b) % 1000003) END""".stripMargin
      Seq(enc("o_orderkey", pm("o_orderkey")),
        enc("o_totalprice",
          pm("CAST(floor(CAST(o_totalprice AS DOUBLE) * 100 + 0.5)" +
            " AS BIGINT)")),
        enc("o_orderstatus", fold))
        .mkString("", "\nUNION ALL\n", "\nORDER BY month, col_name")
    },
    // IQR outliers: grouped quantile_cont quartiles (bit-identical
    // interpolation, x109), plain-double fence arithmetic, exact counts
    "x116_iqr_outliers" ->
      """WITH f AS (
        | SELECT o_orderpriority,
        |  quantile_cont(CAST(o_totalprice AS DOUBLE), 0.25) AS q1,
        |  quantile_cont(CAST(o_totalprice AS DOUBLE), 0.75) AS q3
        | FROM orders GROUP BY 1)
        |SELECT o.o_orderpriority, f.q1, f.q3,
        | f.q1 - 1.5 * (f.q3 - f.q1) AS lo_fence,
        | f.q3 + 1.5 * (f.q3 - f.q1) AS hi_fence,
        | CAST(COUNT(o.o_totalprice) AS BIGINT) AS n,
        | CAST(SUM(CASE WHEN CAST(o.o_totalprice AS DOUBLE) <
        |     f.q1 - 1.5 * (f.q3 - f.q1)
        |   OR CAST(o.o_totalprice AS DOUBLE) >
        |     f.q3 + 1.5 * (f.q3 - f.q1)
        |  THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM orders o JOIN f
        | ON o.o_orderpriority IS NOT DISTINCT FROM f.o_orderpriority
        |GROUP BY 1, f.q1, f.q3
        |ORDER BY o.o_orderpriority""".stripMargin,
    // join hotspots: per-side key histograms joined, ranked by output
    // pair count with a key tie-break — the LIMIT set is deterministic
    "x113_join_hotspots" ->
      """WITH lc AS (
        | SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_left
        | FROM events WHERE event_type = 'click' GROUP BY 1),
        |rc AS (
        | SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_right
        | FROM events WHERE event_type = 'purchase' GROUP BY 1)
        |SELECT lc.user_id, n_left, n_right,
        | CAST(n_left * n_right AS BIGINT) AS n_pairs
        |FROM lc JOIN rc USING (user_id)
        |ORDER BY n_pairs DESC, lc.user_id ASC LIMIT 20""".stripMargin,
    // keyed reconciliation: the full-outer join and the null-safe
    // per-column comparisons replayed verbatim (IS DISTINCT FROM ==
    // Spark's negated <=>); the perturbation is deterministic in both
    // engines (integer modulus, +1.0 exact in double)
    "x111_reconcile_diff" ->
      """WITH b AS (
        | SELECT o_orderkey, o_custkey, o_orderstatus,
        |  CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1.0
        |       ELSE o_totalprice END AS o_totalprice,
        |  o_orderdate, o_orderpriority
        | FROM orders WHERE o_orderkey % 13 <> 0
        | UNION ALL
        | SELECT -o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |  o_orderdate, o_orderpriority
        | FROM orders WHERE o_orderkey % 11 = 0),
        |j AS (
        | SELECT a.o_orderkey AS ka, b.o_orderkey AS kb,
        |  a.o_custkey IS DISTINCT FROM b.o_custkey AS d0,
        |  a.o_orderstatus IS DISTINCT FROM b.o_orderstatus AS d1,
        |  a.o_totalprice IS DISTINCT FROM b.o_totalprice AS d2,
        |  a.o_orderdate IS DISTINCT FROM b.o_orderdate AS d3,
        |  a.o_orderpriority IS DISTINCT FROM b.o_orderpriority AS d4
        | FROM orders a FULL JOIN b ON a.o_orderkey = b.o_orderkey),
        |m AS (
        | SELECT 'only_in_a' AS metric, CAST(SUM(CASE WHEN kb IS NULL
        |   THEN 1 ELSE 0 END) AS BIGINT) AS n FROM j
        | UNION ALL SELECT 'only_in_b', CAST(SUM(CASE WHEN ka IS NULL
        |   THEN 1 ELSE 0 END) AS BIGINT) FROM j
        | UNION ALL SELECT 'in_both', CAST(SUM(CASE WHEN ka IS NOT NULL
        |   AND kb IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) FROM j
        | UNION ALL SELECT 'diff:o_custkey', CAST(SUM(CASE WHEN ka IS
        |   NOT NULL AND kb IS NOT NULL AND d0 THEN 1 ELSE 0 END)
        |   AS BIGINT) FROM j
        | UNION ALL SELECT 'diff:o_orderstatus', CAST(SUM(CASE WHEN ka
        |   IS NOT NULL AND kb IS NOT NULL AND d1 THEN 1 ELSE 0 END)
        |   AS BIGINT) FROM j
        | UNION ALL SELECT 'diff:o_totalprice', CAST(SUM(CASE WHEN ka
        |   IS NOT NULL AND kb IS NOT NULL AND d2 THEN 1 ELSE 0 END)
        |   AS BIGINT) FROM j
        | UNION ALL SELECT 'diff:o_orderdate', CAST(SUM(CASE WHEN ka
        |   IS NOT NULL AND kb IS NOT NULL AND d3 THEN 1 ELSE 0 END)
        |   AS BIGINT) FROM j
        | UNION ALL SELECT 'diff:o_orderpriority', CAST(SUM(CASE WHEN ka
        |   IS NOT NULL AND kb IS NOT NULL AND d4 THEN 1 ELSE 0 END)
        |   AS BIGINT) FROM j)
        |SELECT metric, n FROM m ORDER BY metric""".stripMargin,
    // portable column checksums: every encoding replayed verbatim —
    // integral/epoch moduli, DECIMAL(18,2) cents, and the DSIR codepoint
    // fold for strings (list_reduce's first-element init == folding from
    // 0, since 0*31 + c = c)
    "x112_column_checksums" -> {
      // pmod (always non-negative) is the canonical encoding; DuckDB's
      // % keeps the dividend's sign, so wrap: ((e % M) + M) % M
      def pm(e: String) = s"((($e) % 1000003 + 1000003) % 1000003)"
      def branch(c: String, enc: String) =
        s"""SELECT '$c' AS col_name,
           | CAST(COUNT($c) AS BIGINT) AS n_nonnull,
           | CAST(COALESCE(SUM($enc), 0) AS BIGINT) AS checksum
           |FROM lineitem""".stripMargin
      val fold = (c: String) =>
        s"""CASE WHEN length($c) = 0 THEN 0 ELSE
           | list_reduce(list_transform(range(1, length($c) + 1),
           |   i -> unicode($c[CAST(i AS INT)])),
           |  (a, b) -> (a * 31 + b) % 1000003) END""".stripMargin
      Seq(branch("l_orderkey", pm("l_orderkey")),
        branch("l_linenumber", pm("l_linenumber")),
        branch("l_quantity",
          pm("CAST(floor(CAST(l_quantity AS DOUBLE) * 100 + 0.5)" +
            " AS BIGINT)")),
        branch("l_returnflag", fold("l_returnflag")),
        branch("l_shipdate", pm("epoch_us(l_shipdate)")))
        .mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
    },
    // embedding-table checksums: the array fold replayed with
    // list_reduce over a prepended init-1 (portable to list_reduce
    // without an init parameter), elements at 6dp micro-units, pmod wrap
    "x126_embedding_checksums" -> {
      def pm(e: String) = s"((($e) % 1000003 + 1000003) % 1000003)"
      def branch(c: String, enc: String) =
        s"""SELECT '$c' AS col_name,
           | CAST(COUNT($c) AS BIGINT) AS n_nonnull,
           | CAST(COALESCE(SUM($enc), 0) AS BIGINT) AS checksum
           |FROM embeddings""".stripMargin
      // floor(v*1e6 + 0.5): the pure-IEEE 6dp rounding both engines
      // compute bit-identically (decimal casts round float halves
      // differently across engines — see Reconcile.elementEncode)
      val arrFold =
        s"""list_reduce(list_concat([CAST(1 AS BIGINT)],
           |  list_transform(embedding, x ->
           |   CASE WHEN x IS NULL THEN CAST(1000003 AS BIGINT)
           |    ELSE ${pm("CAST(floor(CAST(x AS DOUBLE) * 1000000" +
               " + 0.5) AS BIGINT)")} END)),
           | (a, b) -> (a * 31 + b) % 1000003)""".stripMargin
      Seq(branch("embedding", arrFold),
        branch("label", pm("label")),
        branch("vec_id", pm("vec_id")))
        .mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
    },
    // budget-guarded blocking: the windowed-count refinement cascade
    // unrolled level by level (chr(1)/chr(2) mirror the engine's
    // key-sep / null-split sentinels), pairs within finalized blocks
    "x127_guarded_fuzzy" ->
      """WITH c AS (SELECT c_custkey AS id, c_name AS n FROM customer),
        |b0 AS (SELECT CAST(0 AS BIGINT) AS pass, substr(n,1,10) AS bk,
        |        id, coalesce(substr(n,15,2), chr(2)) AS s0,
        |        coalesce(substr(n,17,1), chr(2)) AS s1
        |       FROM c WHERE substr(n,1,10) IS NOT NULL),
        |c0 AS (SELECT *, COUNT(*) OVER (PARTITION BY pass, bk) AS cnt
        |       FROM b0),
        |k0 AS (SELECT pass, CAST(0 AS BIGINT) AS lvl, bk, id FROM c0
        |       WHERE cnt <= 20),
        |b1 AS (SELECT pass, bk || chr(1) || s0 AS bk, id, s1 FROM c0
        |       WHERE cnt > 20),
        |c1 AS (SELECT *, COUNT(*) OVER (PARTITION BY pass, bk) AS cnt
        |       FROM b1),
        |k1 AS (SELECT pass, CAST(1 AS BIGINT) AS lvl, bk, id FROM c1
        |       WHERE cnt <= 20),
        |b2 AS (SELECT pass, bk || chr(1) || s1 AS bk, id FROM c1
        |       WHERE cnt > 20),
        |c2 AS (SELECT *, COUNT(*) OVER (PARTITION BY pass, bk) AS cnt
        |       FROM b2),
        |k2 AS (SELECT pass, CAST(2 AS BIGINT) AS lvl, bk, id FROM c2
        |       WHERE cnt <= 20),
        |kept AS (SELECT * FROM k0 UNION ALL SELECT * FROM k1
        |         UNION ALL SELECT * FROM k2),
        |pr AS (SELECT DISTINCT least(a.id,b.id) AS ia,
        |        greatest(a.id,b.id) AS ib
        |       FROM kept a JOIN kept b ON a.pass=b.pass AND a.lvl=b.lvl
        |        AND a.bk=b.bk AND a.id<b.id)
        |SELECT ia AS id_a, ib AS id_b, ca.n AS name_a, cb.n AS name_b,
        | CAST(levenshtein(ca.n, cb.n) AS BIGINT) AS distance
        |FROM pr JOIN c ca ON ca.id=ia JOIN c cb ON cb.id=ib
        |WHERE levenshtein(ca.n, cb.n) <= 1
        |ORDER BY id_a, id_b""".stripMargin,
    // guard accounting: same cascade, every row labeled with the level
    // and fate at which its block finalized, then block/pair rollup
    "x128_guard_accounting" ->
      """WITH c AS (SELECT c_custkey AS id, c_name AS n FROM customer),
        |b0 AS (
        | SELECT CAST(0 AS BIGINT) AS pass, substr(n, length(n)-2, 3)
        |   AS bk, id, coalesce(substr(n,15,2), chr(2)) AS s0 FROM c
        | UNION ALL
        | SELECT CAST(1 AS BIGINT), substr(n,1,10), id,
        |   coalesce(substr(n,15,2), chr(2)) FROM c
        |),
        |b0n AS (SELECT * FROM b0 WHERE bk IS NOT NULL),
        |c0 AS (SELECT *, COUNT(*) OVER (PARTITION BY pass, bk) AS cnt
        |       FROM b0n),
        |f0 AS (SELECT pass, CAST(0 AS BIGINT) AS lvl, 'kept' AS fate,
        |        bk, id FROM c0 WHERE cnt <= 20),
        |b1 AS (SELECT pass, bk || chr(1) || s0 AS bk, id FROM c0
        |       WHERE cnt > 20),
        |c1 AS (SELECT *, COUNT(*) OVER (PARTITION BY pass, bk) AS cnt
        |       FROM b1),
        |f1 AS (SELECT pass, CAST(1 AS BIGINT) AS lvl,
        |        CASE WHEN cnt <= 20 THEN 'kept' ELSE 'dropped' END
        |          AS fate, bk, id FROM c1),
        |allr AS (SELECT * FROM f0 UNION ALL SELECT * FROM f1),
        |g AS (SELECT pass, lvl, fate, bk, CAST(COUNT(*) AS BIGINT) AS c2
        |      FROM allr GROUP BY 1,2,3,4)
        |SELECT pass, lvl AS level, fate,
        | CAST(COUNT(*) AS BIGINT) AS n_blocks,
        | CAST(SUM(c2) AS BIGINT) AS n_rows,
        | CAST(MAX(c2) AS BIGINT) AS max_block,
        | CAST(SUM(c2*(c2-1)//2) AS BIGINT) AS n_pairs
        |FROM g GROUP BY 1,2,3 ORDER BY 1,2,3""".stripMargin,
    // q-gram recall law: guarded q-gram-blocked matches vs the provably
    // total x74 key-set baseline; the found set is a subset, so
    // n_lossless = n_qgram + n_missed
    "x129_qgram_recall" ->
      """WITH c AS (SELECT c_custkey AS id, c_name AS n FROM customer),
        |lb AS (
        | SELECT 0 AS pass, substr(n, 1, 16) AS bk, id FROM c
        | UNION ALL SELECT 1, substr(n, length(n)-2, 3), id FROM c
        | UNION ALL SELECT 2, substr(n, 1, 15) || substr(n, 17, 2), id
        |  FROM c
        |),
        |lpr AS (SELECT DISTINCT least(a.id,b2.id) AS ia,
        |         greatest(a.id,b2.id) AS ib
        |        FROM lb a JOIN lb b2 ON a.pass=b2.pass AND a.bk=b2.bk
        |         AND a.id < b2.id),
        |lossless AS (SELECT ia, ib FROM lpr
        |             JOIN c ca ON ca.id=ia JOIN c cb ON cb.id=ib
        |             WHERE levenshtein(ca.n, cb.n) <= 1),
        |qb AS (SELECT CAST(0 AS BIGINT) AS pass,
        |        unnest(list_distinct([substr(n, g, 4)
        |          for g in range(1, greatest(length(n)-3,1)+1)])) AS bk,
        |        id, coalesce(substr(n,15,2), chr(2)) AS s0,
        |        coalesce(substr(n,17,1), chr(2)) AS s1
        |       FROM c),
        |qbn AS (SELECT * FROM qb WHERE bk IS NOT NULL),
        |c0 AS (SELECT *, COUNT(*) OVER (PARTITION BY pass, bk) AS cnt
        |       FROM qbn),
        |k0 AS (SELECT pass, 0 AS lvl, bk, id FROM c0 WHERE cnt <= 110),
        |b1 AS (SELECT pass, bk || chr(1) || s0 AS bk, id, s1 FROM c0
        |       WHERE cnt > 110),
        |c1 AS (SELECT *, COUNT(*) OVER (PARTITION BY pass, bk) AS cnt
        |       FROM b1),
        |k1 AS (SELECT pass, 1 AS lvl, bk, id FROM c1 WHERE cnt <= 110),
        |b2 AS (SELECT pass, bk || chr(1) || s1 AS bk, id FROM c1
        |       WHERE cnt > 110),
        |c2 AS (SELECT *, COUNT(*) OVER (PARTITION BY pass, bk) AS cnt
        |       FROM b2),
        |k2 AS (SELECT pass, 2 AS lvl, bk, id FROM c2 WHERE cnt <= 110),
        |kept AS (SELECT * FROM k0 UNION ALL SELECT * FROM k1
        |         UNION ALL SELECT * FROM k2),
        |qpr AS (SELECT DISTINCT least(a.id,b.id) AS ia,
        |         greatest(a.id,b.id) AS ib
        |        FROM kept a JOIN kept b ON a.pass=b.pass AND a.lvl=b.lvl
        |         AND a.bk=b.bk AND a.id<b.id),
        |qgram AS (SELECT ia, ib FROM qpr
        |          JOIN c ca ON ca.id=ia JOIN c cb ON cb.id=ib
        |          WHERE levenshtein(ca.n, cb.n) <= 1),
        |missed AS (SELECT * FROM lossless EXCEPT SELECT * FROM qgram),
        |extra AS (SELECT * FROM qgram EXCEPT SELECT * FROM lossless)
        |SELECT
        | CAST((SELECT COUNT(*) FROM lossless) AS BIGINT) AS n_lossless,
        | CAST((SELECT COUNT(*) FROM qgram) AS BIGINT) AS n_qgram,
        | CAST((SELECT COUNT(*) FROM missed) AS BIGINT) AS n_missed,
        | CAST((SELECT COUNT(*) FROM extra) AS BIGINT) AS n_extra""".stripMargin,
    // guarded q-gram production arm alone (the x129 qgram CTEs without
    // the lossless baseline); id sums pin the found pair multiset
    "x132_qgram_guarded" ->
      """WITH c AS (SELECT c_custkey AS id, c_name AS n FROM customer),
        |qb AS (SELECT CAST(0 AS BIGINT) AS pass,
        |        unnest(list_distinct([substr(n, g, 4)
        |          for g in range(1, greatest(length(n)-3,1)+1)])) AS bk,
        |        id, coalesce(substr(n,15,2), chr(2)) AS s0,
        |        coalesce(substr(n,17,1), chr(2)) AS s1
        |       FROM c),
        |qbn AS (SELECT * FROM qb WHERE bk IS NOT NULL),
        |c0 AS (SELECT *, COUNT(*) OVER (PARTITION BY pass, bk) AS cnt
        |       FROM qbn),
        |k0 AS (SELECT pass, 0 AS lvl, bk, id FROM c0 WHERE cnt <= 110),
        |b1 AS (SELECT pass, bk || chr(1) || s0 AS bk, id, s1 FROM c0
        |       WHERE cnt > 110),
        |c1 AS (SELECT *, COUNT(*) OVER (PARTITION BY pass, bk) AS cnt
        |       FROM b1),
        |k1 AS (SELECT pass, 1 AS lvl, bk, id FROM c1 WHERE cnt <= 110),
        |b2 AS (SELECT pass, bk || chr(1) || s1 AS bk, id FROM c1
        |       WHERE cnt > 110),
        |c2 AS (SELECT *, COUNT(*) OVER (PARTITION BY pass, bk) AS cnt
        |       FROM b2),
        |k2 AS (SELECT pass, 2 AS lvl, bk, id FROM c2 WHERE cnt <= 110),
        |kept AS (SELECT * FROM k0 UNION ALL SELECT * FROM k1
        |         UNION ALL SELECT * FROM k2),
        |qpr AS (SELECT DISTINCT least(a.id,b.id) AS ia,
        |         greatest(a.id,b.id) AS ib
        |        FROM kept a JOIN kept b ON a.pass=b.pass AND a.lvl=b.lvl
        |         AND a.bk=b.bk AND a.id<b.id),
        |qgram AS (SELECT ia, ib FROM qpr
        |          JOIN c ca ON ca.id=ia JOIN c cb ON cb.id=ib
        |          WHERE levenshtein(ca.n, cb.n) <= 1)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
        | CAST(SUM(ia) AS BIGINT) AS sum_id_a,
        | CAST(SUM(ib) AS BIGINT) AS sum_id_b FROM qgram""".stripMargin,
    // quantile profile: both engines interpolate lo + (hi-lo)*frac at
    // rank p*(n-1) — verified bit-identical, full-double comparison;
    // DuckDB's parallel unnest zips the p-list with the quantile array
    "x109_quantile_profile" -> {
      def branch(c: String) =
        s"""SELECT '$c' AS col_name,
           | unnest([0.25, 0.5, 0.75, 0.95]) AS p,
           | unnest(quantile_cont(CAST($c AS DOUBLE),
           |   [0.25, 0.5, 0.75, 0.95])) AS value
           |FROM lineitem""".stripMargin
      Seq(branch("l_quantity"), branch("l_extendedprice"),
        branch("l_discount"), branch("l_tax"))
        .mkString("", "\nUNION ALL\n", "\nORDER BY col_name, p")
    },
    // token drift: exact counts -> two divisions + subtraction per token,
    // deterministic IEEE in both engines, full-double comparison
    "x57_token_drift" ->
      """WITH toks AS (
        | SELECT source, unnest(list_filter(
        |   string_split_regex(trim(text), '\s+'),
        |   tk -> length(tk) > 0)) AS token FROM documents
        |), ref AS (
        | SELECT token, COUNT(*) AS cnt FROM toks
        | WHERE source IN ('src0','src1','src2','src3','src4','src5',
        |   'src6','src7','src8','src9') GROUP BY token
        |), cand AS (
        | SELECT token, COUNT(*) AS cnt FROM toks
        | WHERE source NOT IN ('src0','src1','src2','src3','src4','src5',
        |   'src6','src7','src8','src9') GROUP BY token
        |), tot AS (
        | SELECT (SELECT CAST(SUM(cnt) AS DOUBLE) FROM ref) AS rt,
        |        (SELECT CAST(SUM(cnt) AS DOUBLE) FROM cand) AS ct
        |)
        |SELECT token,
        | COALESCE(cand.cnt, 0) / tot.ct AS p,
        | COALESCE(ref.cnt, 0) / tot.rt AS q,
        | abs(COALESCE(cand.cnt, 0) / tot.ct
        |   - COALESCE(ref.cnt, 0) / tot.rt) AS drift
        |FROM cand FULL OUTER JOIN ref USING (token) CROSS JOIN tot
        |ORDER BY drift DESC, token LIMIT 20""".stripMargin,
    "x39_decontam" ->
      """WITH toks AS (
        | SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'),
        |   tk -> length(tk) > 0) AS t FROM documents
        |), grams AS MATERIALIZED (
        | SELECT doc_id, unnest(s) AS g FROM (
        |  SELECT doc_id,
        |   CASE WHEN len(t) >= 13 THEN
        |    list_distinct(list_transform(range(1, len(t) - 11),
        |      i -> array_to_string(
        |        list_slice(t, CAST(i AS INT), CAST(i AS INT) + 12), ' ')))
        |   ELSE [array_to_string(t, ' ')] END AS s
        |  FROM toks)
        |), bench AS (
        | SELECT DISTINCT g FROM grams WHERE doc_id < 20
        |), hits AS (
        | SELECT doc_id, count(*) AS nh FROM grams JOIN bench USING (g)
        | GROUP BY 1
        |)
        |SELECT d.doc_id, CAST(coalesce(h.nh, 0) AS BIGINT) AS n_hits,
        | coalesce(h.nh, 0) >= 1 AS contaminated
        |FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    "x47_hard_negatives" ->
      """SELECT query_id, vec_id, CAST(rank AS INT) AS rank FROM (
        | SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
        |  row_number() OVER (PARTITION BY q.vec_id
        |   ORDER BY list_cosine_similarity(c.embedding, q.embedding) DESC,
        |    c.vec_id) AS rank
        | FROM embeddings c, (SELECT * FROM embeddings WHERE vec_id < 20) q
        | WHERE c.vec_id != q.vec_id
        |   AND list_cosine_similarity(c.embedding, q.embedding) < 0.45)
        |WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,
    // Kneser-Ney: same bigram derivation as x46, plus the three
    // continuation-type counts; formula textually parallel to the Spark
    // side so 6dp rounding absorbs only libm ulps
    "x72_ngram_lm_kn" ->
      """WITH lt AS (
        | SELECT doc_id,
        |  list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |    tk -> length(tk) > 0) AS t
        | FROM documents
        |), ex AS MATERIALIZED (
        | SELECT doc_id, u.i AS pos, u.w FROM (
        |  SELECT doc_id, unnest(list_transform(range(1, len(t) + 1),
        |    i -> {'i': i, 'w': t[CAST(i AS INT)]})) AS u FROM lt)
        |), vocab AS MATERIALIZED (
        | SELECT w FROM ex GROUP BY w
        | ORDER BY COUNT(*) DESC, w ASC LIMIT 4096
        |), m AS MATERIALIZED (
        | SELECT e.doc_id, e.pos,
        |  CASE WHEN v.w IS NULL THEN '<unk>' ELSE e.w END AS mw
        | FROM ex e LEFT JOIN vocab v ON e.w = v.w
        |), bgd AS MATERIALIZED (
        | SELECT doc_id, w1, w2 FROM (
        |  SELECT doc_id, mw AS w1,
        |   lead(mw) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
        |  FROM m) WHERE w2 IS NOT NULL
        |), bgc AS MATERIALIZED (
        | SELECT w1, w2, COUNT(*) AS b FROM bgd GROUP BY 1, 2
        |), uc AS (
        | SELECT w1, COUNT(*) AS u FROM bgd GROUP BY 1
        |), fo AS (
        | SELECT w1, COUNT(*) AS f FROM bgc GROUP BY 1
        |), ctx AS (
        | SELECT w2, COUNT(*) AS p FROM bgc GROUP BY 1
        |), tt AS (
        | SELECT COUNT(*) AS t FROM bgc
        |), ds AS (
        | SELECT bgd.doc_id, CAST(COUNT(*) AS BIGINT) AS nb,
        |  ROUND(AVG(ln(
        |    greatest(CAST(b AS DOUBLE) - 0.75, 0.0) / CAST(u AS DOUBLE)
        |    + 0.75 * CAST(f AS DOUBLE) / CAST(u AS DOUBLE)
        |      * (CAST(p AS DOUBLE) / CAST(t AS DOUBLE)))), 6) AS lp
        | FROM bgd JOIN bgc USING (w1, w2) JOIN uc USING (w1)
        |   JOIN fo USING (w1) JOIN ctx USING (w2) CROSS JOIN tt
        | GROUP BY 1
        |)
        |SELECT d.doc_id, CAST(coalesce(nb, 0) AS BIGINT) AS n_bigrams,
        | lp AS avg_logp_kn
        |FROM documents d LEFT JOIN ds ON d.doc_id = ds.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    "x46_ngram_lm" ->
      """WITH lt AS (
        | SELECT doc_id,
        |  list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |    tk -> length(tk) > 0) AS t
        | FROM documents
        |), ex AS MATERIALIZED (
        | SELECT doc_id, u.i AS pos, u.w FROM (
        |  SELECT doc_id, unnest(list_transform(range(1, len(t) + 1),
        |    i -> {'i': i, 'w': t[CAST(i AS INT)]})) AS u FROM lt)
        |), vocab AS MATERIALIZED (
        | SELECT w FROM ex GROUP BY w
        | ORDER BY COUNT(*) DESC, w ASC LIMIT 4096
        |), m AS MATERIALIZED (
        | SELECT e.doc_id, e.pos,
        |  CASE WHEN v.w IS NULL THEN '<unk>' ELSE e.w END AS mw
        | FROM ex e LEFT JOIN vocab v ON e.w = v.w
        |), bgd AS MATERIALIZED (
        | SELECT doc_id, w1, w2 FROM (
        |  SELECT doc_id, mw AS w1,
        |   lead(mw) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
        |  FROM m) WHERE w2 IS NOT NULL
        |), bgc AS (
        | SELECT w1, w2, COUNT(*) AS b FROM bgd GROUP BY 1, 2
        |), uc AS (
        | SELECT w1, COUNT(*) AS u FROM bgd GROUP BY 1
        |), ds AS (
        | SELECT bgd.doc_id, CAST(COUNT(*) AS BIGINT) AS nb,
        |  ROUND(AVG(ln((b + 1.0) / (u + 4097.0))), 6) AS lp
        | FROM bgd JOIN bgc USING (w1, w2) JOIN uc USING (w1)
        | GROUP BY 1
        |)
        |SELECT d.doc_id, CAST(coalesce(nb, 0) AS BIGINT) AS n_bigrams,
        | lp AS avg_logp
        |FROM documents d LEFT JOIN ds ON d.doc_id = ds.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    "x45_substring_dedup" ->
      """WITH toks AS (
        | SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'),
        |   tk -> length(tk) > 0) AS t FROM documents
        |), nt AS (
        | SELECT doc_id, CAST(len(t) AS BIGINT) AS n FROM toks
        |), occ AS (
        | SELECT doc_id, CAST(i AS BIGINT) AS pos,
        |  array_to_string(
        |    list_slice(t, CAST(i AS INT), CAST(i AS INT) + 19), ' ') AS g
        | FROM (SELECT doc_id, t, unnest(range(1, len(t) - 18)) AS i
        |       FROM toks WHERE len(t) >= 20)
        |), ranked AS (
        | SELECT doc_id, pos,
        |  row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn
        | FROM occ
        |), marked AS (
        | SELECT DISTINCT doc_id, pos + ofs AS tokpos
        | FROM ranked CROSS JOIN UNNEST(range(0, 20)) AS u(ofs)
        | WHERE rn > 1
        |), drops AS (
        | SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nd FROM marked
        | GROUP BY 1
        |)
        |SELECT nt.doc_id, n AS n_tokens,
        | coalesce(nd, 0) AS n_dropped,
        | n - coalesce(nd, 0) AS n_kept
        |FROM nt LEFT JOIN drops USING (doc_id)
        |ORDER BY nt.doc_id""".stripMargin,
    "x44_merge_upsert" ->
      """WITH base AS (
        | SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey < 4000
        |), u1 AS (
        | SELECT o_orderkey, o_totalprice + 10 AS o_totalprice FROM base
        | WHERE o_orderkey % 7 = 0
        |), i1 AS (
        | SELECT o_orderkey + 10000000 AS o_orderkey, o_totalprice FROM base
        | WHERE o_orderkey % 11 = 0
        |), ups AS (
        | SELECT * FROM u1 UNION ALL SELECT * FROM i1
        |), m1 AS (
        | SELECT * FROM base
        | WHERE o_orderkey NOT IN (SELECT o_orderkey FROM ups)
        | UNION ALL SELECT * FROM ups
        |), m2 AS (
        | SELECT * FROM m1 WHERE o_orderkey NOT IN (
        |  SELECT o_orderkey FROM base WHERE o_orderkey % 13 = 0)
        |)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        | CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |   AS DOUBLE) AS sum_price,
        | CAST(3 AS BIGINT) AS n_versions,
        | (SELECT CAST(COUNT(*) AS BIGINT) FROM base) AS v0_rows
        |FROM m2""".stripMargin,
    // the funnel oracle chains the proven per-stage replicas (x25 quality,
    // x01 exact-dedup, x04 shingle-Jaccard, x39 13-gram decontam, x41
    // mixture hash, x38 chunk-count math) into ONE CTE pipeline, so any
    // stage-interaction bug breaks the hash
    "x43_corpus_funnel" ->
      """WITH base AS (
        | SELECT doc_id, text, source,
        |  CAST(length(text) AS BIGINT) AS n_chars,
        |  list_filter(string_split_regex(trim(text), '\s+'),
        |    tk -> length(tk) > 0) AS toks,
        |  list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |    tk -> length(tk) > 0) AS ltoks
        | FROM documents
        |), sig AS (
        | SELECT doc_id,
        |  CAST(len(toks) AS BIGINT) AS n_tokens,
        |  CASE WHEN n_chars > 0 THEN
        |    CAST(n_chars - length(regexp_replace(text, '[[:punct:]]', '', 'g'))
        |      AS DOUBLE) / n_chars ELSE 0.0 END AS punct_ratio,
        |  CASE WHEN len(toks) > 0 THEN
        |    CAST(list_sum(list_transform(toks, tk -> length(tk))) AS DOUBLE)
        |      / len(toks) ELSE 0.0 END AS awl,
        |  CASE WHEN len(toks) > 0 THEN
        |    1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
        |   ELSE 0.0 END AS dup_word_frac,
        |  CAST(len(list_filter(ltoks, x -> list_contains(
        |    ['the','and','of','to','is','that','with','for'], x))) AS BIGINT)
        |    AS s_en,
        |  CAST(len(list_filter(ltoks, x -> list_contains(
        |    ['der','die','und','das','ist','nicht','mit','ein'], x))) AS BIGINT)
        |    AS s_de,
        |  CAST(len(list_filter(ltoks, x -> list_contains(
        |    ['el','los','las','es','una','por','como','pero'], x))) AS BIGINT)
        |    AS s_es,
        |  CAST(len(list_filter(ltoks, x -> list_contains(
        |    ['le','les','des','est','une','dans','pour','que'], x))) AS BIGINT)
        |    AS s_fr,
        |  CAST(len(list_filter(ltoks, x -> list_contains(
        |    ['o','os','um','uma','nao','em','do','da'], x))) AS BIGINT)
        |    AS s_pt
        | FROM base
        |), scored AS (
        | SELECT doc_id, n_tokens, dup_word_frac,
        |  (least(CAST(n_tokens AS DOUBLE) / 50.0, 1.0) * 0.5
        |   + (CASE WHEN awl >= 2.5 AND awl <= 12.0 THEN 1.0 ELSE 0.3 END) * 0.3
        |   + (CASE WHEN punct_ratio <= 0.2 THEN 1.0 ELSE 0.4 END) * 0.2)
        |    AS quality,
        |  CASE WHEN greatest(s_en, s_de, s_es, s_fr, s_pt) = 0 THEN 'und'
        |   WHEN s_de = greatest(s_en, s_de, s_es, s_fr, s_pt) THEN 'de'
        |   WHEN s_en = greatest(s_en, s_de, s_es, s_fr, s_pt) THEN 'en'
        |   WHEN s_es = greatest(s_en, s_de, s_es, s_fr, s_pt) THEN 'es'
        |   WHEN s_fr = greatest(s_en, s_de, s_es, s_fr, s_pt) THEN 'fr'
        |   ELSE 'pt' END AS lang
        | FROM sig
        |), kept1 AS (
        | SELECT b.doc_id, b.text, b.source, b.toks
        | FROM base b JOIN scored s ON b.doc_id = s.doc_id
        | WHERE s.n_tokens >= 10 AND s.quality >= 0.5
        |   AND s.dup_word_frac <= 0.3
        |), ew AS (
        | SELECT MIN(doc_id) AS doc_id FROM kept1 GROUP BY text
        |), kept2 AS (
        | SELECT k.* FROM kept1 k JOIN ew USING (doc_id)
        |), ex AS MATERIALIZED (
        | SELECT doc_id, unnest(s) AS g FROM (
        |  SELECT doc_id, CASE WHEN len(toks) >= 3 THEN
        |    list_distinct(list_transform(range(1, len(toks) - 1),
        |      i -> toks[CAST(i AS INT)] || ' ' || toks[CAST(i AS INT)+1]
        |           || ' ' || toks[CAST(i AS INT)+2]))
        |   ELSE [array_to_string(toks, ' ')] END AS s
        |  FROM kept2)
        |), sz AS MATERIALIZED (
        | SELECT doc_id, count(*) AS n FROM ex GROUP BY doc_id
        |), inter AS MATERIALIZED (
        | SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
        | FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
        | GROUP BY 1, 2
        |), kept3 AS (
        | SELECT k.* FROM kept2 k WHERE k.doc_id NOT IN (
        |  SELECT id_b FROM inter
        |  JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
        |  WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.8)
        |), bt AS (
        | SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'),
        |   tk -> length(tk) > 0) AS t
        | FROM documents WHERE doc_id < 20
        |), bgrams AS (
        | SELECT DISTINCT g FROM (
        |  SELECT unnest(CASE WHEN len(t) >= 13 THEN
        |    list_distinct(list_transform(range(1, len(t) - 11),
        |      i -> array_to_string(
        |        list_slice(t, CAST(i AS INT), CAST(i AS INT) + 12), ' ')))
        |   ELSE [array_to_string(t, ' ')] END) AS g
        |  FROM bt)
        |), cgrams AS (
        | SELECT doc_id, unnest(CASE WHEN len(toks) >= 13 THEN
        |    list_distinct(list_transform(range(1, len(toks) - 11),
        |      i -> array_to_string(
        |        list_slice(toks, CAST(i AS INT), CAST(i AS INT) + 12), ' ')))
        |   ELSE [array_to_string(toks, ' ')] END) AS g
        | FROM kept3
        |), contam AS (
        | SELECT DISTINCT doc_id FROM cgrams JOIN bgrams USING (g)
        |), kept4 AS (
        | SELECT * FROM kept3
        | WHERE doc_id NOT IN (SELECT doc_id FROM contam)
        |), srct AS (
        | SELECT source, SUM(len(toks)) AS tok FROM kept4 GROUP BY 1
        |), rates AS (
        | SELECT source, CAST(floor(least(1.0,
        |   500.0 * ((CAST(substr(source, 4) AS BIGINT) + 1) / 210.0)
        |     / tok) * 1000003) AS BIGINT) AS thresh
        | FROM srct
        |), kept5 AS (
        | SELECT k.* FROM kept4 k JOIN rates USING (source)
        | WHERE ((doc_id % 1000003) * (2654435761 % 1000003)) % 1000003
        |       < thresh
        |), nch AS (
        | SELECT doc_id, CASE WHEN len(toks) <= 16 THEN 1
        |  ELSE CAST(floor((len(toks) - 16 + 11) / 12.0) AS BIGINT) + 1
        |  END AS k
        | FROM kept5
        |)
        |SELECT stage, n FROM (
        | SELECT '0_all' AS stage, CAST(COUNT(*) AS BIGINT) AS n
        | FROM documents
        | UNION ALL SELECT '1_quality_lang', COUNT(*) FROM kept1
        | UNION ALL SELECT '2_exact_dedup', COUNT(*) FROM kept2
        | UNION ALL SELECT '3_near_dedup', COUNT(*) FROM kept3
        | UNION ALL SELECT '4_decontaminated', COUNT(*) FROM kept4
        | UNION ALL SELECT '5_sampled', COUNT(*) FROM kept5
        | UNION ALL SELECT '6_chunks',
        |   CAST(coalesce((SELECT SUM(k) FROM nch), 0) AS BIGINT)
        |) ORDER BY stage""".stripMargin,
    // batch-folded incremental dedup must equal the ONE-SHOT greedy rule:
    // the oracle is intentionally identical to x04's one-shot SQL
    "x42_incremental_dedup" -> (shingleSetSql
      .replace("AS t FROM documents))",
        "AS t FROM documents WHERE doc_id < 999))") + "\n" +
      """SELECT doc_id FROM documents WHERE doc_id < 999 AND doc_id NOT IN (
        |  SELECT id_b FROM inter
        |  JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
        |  WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.8)
        |ORDER BY doc_id""".stripMargin),
    "x41_mixture_sampling" ->
      """WITH t AS (
        | SELECT doc_id, source,
        |  len(list_filter(string_split_regex(trim(text), '\s+'),
        |    tk -> length(tk) > 0)) AS nt
        | FROM documents
        |), srct AS (
        | SELECT source, SUM(nt) AS tok FROM t GROUP BY 1
        |), rates AS (
        | SELECT source,
        |  CAST(floor(least(1.0,
        |    10000.0 * ((CAST(substr(source, 4) AS BIGINT) + 1) / 210.0)
        |      / tok) * 1000003) AS BIGINT) AS thresh
        | FROM srct
        |)
        |SELECT doc_id, source FROM t JOIN rates USING (source)
        |WHERE ((doc_id % 1000003) * (2654435761 % 1000003)) % 1000003
        |      < thresh
        |ORDER BY doc_id""".stripMargin,
    "x40_pii_redact" ->
      """SELECT doc_id,
        | regexp_replace(regexp_replace(regexp_replace(
        |   substr(text, 1, 40) || ' reach user' || doc_id
        |     || '@mail.example.com or 415-555-'
        |     || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |     || ' from 10.0.' || (doc_id % 256) || '.' || (doc_id % 254 + 1),
        |   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |   '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '<PHONE>', 'g'),
        |   '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g') AS redacted
        |FROM documents ORDER BY doc_id""".stripMargin,
    "x30_user_overlap" ->
      """WITH s AS (
        | SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS nu
        | FROM events GROUP BY 1)
        |SELECT a.event_type AS type_a, b.event_type AS type_b,
        | a.nu AS users_a, b.nu AS users_b, true AS est_ok
        |FROM s a JOIN s b ON a.event_type < b.event_type
        |ORDER BY type_a, type_b""".stripMargin,
    "x22_lang_trigram" -> (langTrigramSql + "\n" +
      """SELECT doc_id, lang AS lang_pred FROM langpred
        |ORDER BY doc_id""".stripMargin),
    "x35_hof_gallery" ->
      """SELECT vec_id,
        | ROUND(list_sum(list_transform(embedding,
        |   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), 6) AS sum_sq,
        | CAST(len(list_filter(embedding, x -> x > 0)) AS BIGINT) AS n_pos,
        | ROUND(list_max(list_transform(embedding,
        |   x -> CAST(x AS DOUBLE) * 2)), 6) AS max2,
        | ROUND(list_sum(list_transform(
        |   list_zip(embedding, list_reverse(embedding)),
        |   t -> CAST(t[1] AS DOUBLE) * CAST(t[2] AS DOUBLE))), 6) AS dot_rev
        |FROM embeddings ORDER BY vec_id""".stripMargin,
    // Gopher repetition: word n-grams via 1-based inclusive list slices,
    // per-(doc, n) totals/distincts/top via one window pass, top tiebreak
    // (count desc, ngram asc) — all fractions single IEEE divisions of
    // exact integers, engine-identical without rounding
    "x98_gopher_repetition" ->
      """WITH t AS (
        | SELECT doc_id, CAST(length(text) AS DOUBLE) AS nc,
        |  list_filter(string_split_regex(trim(text), '\s+'),
        |    tk -> length(tk) > 0) AS tk
        | FROM documents
        |), ng AS (
        | SELECT doc_id, n,
        |  unnest(list_transform(range(1, len(tk) - n + 2),
        |   i -> array_to_string(
        |     tk[CAST(i AS INT):CAST(i + n - 1 AS INT)], ' '))) AS g
        | FROM t CROSS JOIN (SELECT unnest([2, 3, 4, 5, 8]) AS n) ns
        | WHERE len(tk) >= n
        |), cnt AS (
        | SELECT doc_id, n, g, COUNT(*) AS c FROM ng GROUP BY 1, 2, 3
        |), st AS (
        | SELECT doc_id, n, total, dist, topc, g AS top_g FROM (
        |  SELECT doc_id, n, g, c,
        |   SUM(c) OVER w AS total, COUNT(*) OVER w AS dist,
        |   MAX(c) OVER w AS topc,
        |   row_number() OVER (PARTITION BY doc_id, n
        |     ORDER BY c DESC, g) AS rn
        |  FROM cnt WINDOW w AS (PARTITION BY doc_id, n)
        | ) WHERE rn = 1
        |), wide AS (
        | SELECT t.doc_id,
        |  COALESCE(MAX(CASE WHEN n = 2 THEN CAST(topc AS DOUBLE)
        |    * CAST(length(top_g) AS DOUBLE) / nc END), 0.0) AS top2_frac,
        |  COALESCE(MAX(CASE WHEN n = 3 THEN CAST(topc AS DOUBLE)
        |    * CAST(length(top_g) AS DOUBLE) / nc END), 0.0) AS top3_frac,
        |  COALESCE(MAX(CASE WHEN n = 4 THEN CAST(topc AS DOUBLE)
        |    * CAST(length(top_g) AS DOUBLE) / nc END), 0.0) AS top4_frac,
        |  COALESCE(MAX(CASE WHEN n = 5 THEN 1.0
        |    - CAST(dist AS DOUBLE) / CAST(total AS DOUBLE) END),
        |    0.0) AS dup5_frac,
        |  COALESCE(MAX(CASE WHEN n = 8 THEN 1.0
        |    - CAST(dist AS DOUBLE) / CAST(total AS DOUBLE) END),
        |    0.0) AS dup8_frac
        | FROM t LEFT JOIN st ON st.doc_id = t.doc_id
        | GROUP BY 1
        |)
        |SELECT doc_id, top2_frac, top3_frac, top4_frac, dup5_frac,
        | dup8_frac,
        | (top2_frac <= 0.20 AND top3_frac <= 0.18 AND top4_frac <= 0.16
        |  AND dup5_frac <= 0.15 AND dup8_frac <= 0.12) AS keep
        |FROM wide ORDER BY doc_id""".stripMargin,
    // NOTE composed entries below: the prelude is stripped at ITS definition
    // and concatenated — running stripMargin over an interpolated result
    // would re-strip embedded lines that begin with the `||` SQL concat
    // operator (eating one pipe, producing `| ' ' || ...` binder errors)
    "x03_minhash_pairs" -> (shingleSetSql + "\n" +
      """SELECT id_a, id_b, CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS jaccard
        |FROM inter JOIN sz sa ON sa.doc_id = id_a
        |           JOIN sz sb ON sb.doc_id = id_b
        |WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.5
        |ORDER BY id_a, id_b""".stripMargin),
    // exact prefix-filter ssjoin: same exact all-pairs set-Jaccard
    // replay as x03, at the x115 threshold — full recall is the claim,
    // so the oracle IS the brute-force ground truth
    "x115_prefix_filter_pairs" -> (shingleSetSql + "\n" +
      """SELECT id_a, id_b, CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS jaccard
        |FROM inter JOIN sz sa ON sa.doc_id = id_a
        |           JOIN sz sb ON sb.doc_id = id_b
        |WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.7
        |ORDER BY id_a, id_b""".stripMargin),
    // dedup threshold sweep: one exact pair stream, per-threshold
    // filtered counts; thresholds CAST to DOUBLE (VALUES literals are
    // DECIMAL in DuckDB) and LEFT JOIN ON TRUE so empty pair streams
    // still yield all-zero threshold rows
    "x117_dedup_sweep" -> (shingleSetSql + "\n" +
      """, p AS (
        | SELECT id_a, id_b, CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS j
        | FROM inter JOIN sz sa ON sa.doc_id = id_a
        |            JOIN sz sb ON sb.doc_id = id_b
        | WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.5)
        |SELECT CAST(t.th AS DOUBLE) AS threshold,
        | CAST(COUNT(CASE WHEN p.j >= t.th THEN 1 END) AS BIGINT)
        |   AS n_pairs,
        | CAST(COUNT(DISTINCT CASE WHEN p.j >= t.th THEN p.id_b END)
        |   AS BIGINT) AS n_docs_removed
        |FROM (VALUES (CAST(0.5 AS DOUBLE)), (CAST(0.6 AS DOUBLE)),
        |  (CAST(0.7 AS DOUBLE)), (CAST(0.8 AS DOUBLE)),
        |  (CAST(0.9 AS DOUBLE))) AS t(th)
        |LEFT JOIN p ON true
        |GROUP BY 1 ORDER BY threshold""".stripMargin),
    // cross-source duplication matrix: exact-Jaccard pair stream at 0.8,
    // labeled both sides, unordered (least/greatest) source pair counts
    "x101_source_overlap" -> (shingleSetSql + "\n" +
      """SELECT least(da.source, db.source) AS src_lo,
        | greatest(da.source, db.source) AS src_hi,
        | CAST(COUNT(*) AS BIGINT) AS dup_pairs
        |FROM inter
        |JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
        |JOIN documents da ON da.doc_id = id_a
        |JOIN documents db ON db.doc_id = id_b
        |WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.8
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    "x04_minhash_dedup" -> (shingleSetSql + "\n" +
      """SELECT doc_id FROM documents WHERE doc_id NOT IN (
        |  SELECT id_b FROM inter
        |  JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
        |  WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.8)
        |ORDER BY doc_id""".stripMargin),
    "x26_minhash_dedup_cc" -> (shingleSetSql + ", " +
      """edges AS MATERIALIZED (
        |  SELECT id_a, id_b FROM inter
        |  JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
        |  WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.8
        |), sym AS (
        |  SELECT id_a AS src, id_b AS dst FROM edges
        |  UNION SELECT id_b, id_a FROM edges
        |), reach AS (
        |  WITH RECURSIVE r(src, dst) AS (
        |    SELECT src, dst FROM sym
        |    UNION
        |    SELECT r.src, s.dst FROM r JOIN sym s ON r.dst = s.src
        |    WHERE r.src <> s.dst
        |  ) SELECT * FROM r
        |)
        |SELECT doc_id FROM documents
        |WHERE doc_id NOT IN (SELECT dst FROM reach WHERE src < dst)
        |ORDER BY doc_id""".stripMargin),
    // leakage-safe splits: x26's closure -> min-reachable representative
    // (self for singletons) -> the x41 keep-hash buckets the component;
    // 100/100-permille boundaries = floor(1000003 * k/1000) = 100000 /
    // 200000, matching Sampling.leakSafeSplit's integer arithmetic
    "x99_leak_safe_splits" -> (shingleSetSql + ", " +
      """edges AS MATERIALIZED (
        |  SELECT id_a, id_b FROM inter
        |  JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
        |  WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.8
        |), sym AS (
        |  SELECT id_a AS src, id_b AS dst FROM edges
        |  UNION SELECT id_b, id_a FROM edges
        |), reach AS (
        |  WITH RECURSIVE r(src, dst) AS (
        |    SELECT src, dst FROM sym
        |    UNION
        |    SELECT r.src, s.dst FROM r JOIN sym s ON r.dst = s.src
        |    WHERE r.src <> s.dst
        |  ) SELECT * FROM r
        |), compo AS (
        |  SELECT id, MIN(dst) AS comp FROM (
        |    SELECT DISTINCT src AS id, src AS dst FROM sym
        |    UNION ALL SELECT src, dst FROM reach)
        |  GROUP BY id
        |), rep AS (
        |  SELECT d.doc_id, COALESCE(c.comp, d.doc_id) AS rep
        |  FROM documents d LEFT JOIN compo c ON c.id = d.doc_id
        |)
        |SELECT doc_id, rep,
        | CASE
        |  WHEN ((rep % 1000003) * (2654435761 % 1000003)) % 1000003
        |       < 100000 THEN 'test'
        |  WHEN ((rep % 1000003) * (2654435761 % 1000003)) % 1000003
        |       < 200000 THEN 'val'
        |  ELSE 'train' END AS split
        |FROM rep ORDER BY doc_id""".stripMargin),
    // quality-aware CC dedup: x26's closure + per-component argmax by
    // the x07 quality formula (score desc, id asc)
    "x94_dedup_best_quality" -> (shingleSetSql + ", " +
      """edges AS MATERIALIZED (
        |  SELECT id_a, id_b FROM inter
        |  JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
        |  WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.8
        |), sym AS (
        |  SELECT id_a AS src, id_b AS dst FROM edges
        |  UNION SELECT id_b, id_a FROM edges
        |), reach AS (
        |  WITH RECURSIVE r(src, dst) AS (
        |    SELECT src, dst FROM sym
        |    UNION
        |    SELECT r.src, s.dst FROM r JOIN sym s ON r.dst = s.src
        |    WHERE r.src <> s.dst
        |  ) SELECT * FROM r
        |), compo AS (
        |  SELECT id, MIN(dst) AS comp FROM (
        |    SELECT DISTINCT src AS id, src AS dst FROM sym
        |    UNION ALL SELECT src, dst FROM reach)
        |  GROUP BY id
        |), q AS (
        | SELECT doc_id,
        |  (least(CAST(len(toks) AS DOUBLE) / 50.0, 1.0) * 0.5
        |   + (CASE WHEN len(toks) > 0 AND
        |        CAST(list_sum(list_transform(toks, tk -> length(tk)))
        |          AS DOUBLE) / len(toks) >= 2.5
        |       AND CAST(list_sum(list_transform(toks, tk -> length(tk)))
        |          AS DOUBLE) / len(toks) <= 12.0
        |      THEN 1.0 ELSE 0.3 END) * 0.3
        |   + (CASE WHEN length(text) = 0 OR
        |        CAST(length(text) - length(regexp_replace(text,
        |          '[[:punct:]]', '', 'g')) AS DOUBLE) / length(text) <= 0.2
        |      THEN 1.0 ELSE 0.4 END) * 0.2) AS quality
        | FROM (SELECT doc_id, text,
        |   list_filter(string_split_regex(trim(text), '\s+'),
        |     tk -> length(tk) > 0) AS toks FROM documents)
        |), reps AS (
        |  SELECT id FROM (
        |    SELECT c.id, row_number() OVER (PARTITION BY c.comp
        |      ORDER BY q.quality DESC, c.id ASC) AS rn
        |    FROM compo c JOIN q ON q.doc_id = c.id)
        |  WHERE rn = 1
        |)
        |SELECT doc_id FROM documents
        |WHERE doc_id NOT IN (SELECT id FROM compo)
        |   OR doc_id IN (SELECT id FROM reps)
        |ORDER BY doc_id""".stripMargin),
    "x27_wminhash_pairs" -> (shingleTfSql + "\n" +
      """SELECT id_a, id_b,
        |  CAST(smin AS DOUBLE) / (ta.s + tb.s - smin) AS wjaccard
        |FROM winter JOIN tot ta ON ta.doc_id = id_a
        |            JOIN tot tb ON tb.doc_id = id_b
        |WHERE CAST(smin AS DOUBLE) / (ta.s + tb.s - smin) >= 0.5
        |ORDER BY id_a, id_b""".stripMargin),
    "x28_wminhash_dedup" -> (shingleTfSql + "\n" +
      """SELECT doc_id FROM documents WHERE doc_id NOT IN (
        |  SELECT id_b FROM winter
        |  JOIN tot ta ON ta.doc_id = id_a JOIN tot tb ON tb.doc_id = id_b
        |  WHERE CAST(smin AS DOUBLE) / (ta.s + tb.s - smin) >= 0.8)
        |ORDER BY doc_id""".stripMargin),
    "x05_simhash_dedup" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_docs, true AS removed_ok,
        | true AS exact_dedup_ok
        |FROM documents""".stripMargin,
    "x29_quality_classifier" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_docs, true AS learn_ok,
        | true AS quant_ok
        |FROM documents""".stripMargin,
    "x32_heavy_tokens" -> (langTrigramSql + ", " +
      """toks AS MATERIALIZED (
        |  SELECT lp.lang, t.tok AS token FROM (
        |    SELECT doc_id, unnest(list_filter(
        |      string_split_regex(trim(lower(text)), '\s+'),
        |      tk -> length(tk) > 0)) AS tok
        |    FROM documents) t
        |  JOIN langpred lp ON lp.doc_id = t.doc_id
        |), exact AS (
        |  SELECT lang, token, count(*) AS cnt FROM toks GROUP BY lang, token
        |), totals AS (
        |  SELECT lang, CAST(sum(cnt) AS BIGINT) AS n_tokens
        |  FROM exact GROUP BY lang
        |)
        |SELECT e.lang, t.n_tokens, CAST(count(*) AS BIGINT) AS n_heavy,
        |  true AS found_ok
        |FROM exact e JOIN totals t ON e.lang = t.lang
        |WHERE e.cnt > t.n_tokens / 16.0
        |GROUP BY e.lang, t.n_tokens
        |ORDER BY e.lang""".stripMargin))

  /** Shared DuckDB prelude replicating
    * [[graft.functions.TextFunctions.langIdTrigram]]: per-doc trigram-profile
    * scores over the space-padded lowercased text, argmax with the same
    * de/en/es/fr/pt tie-break and 'und' zero-hit fallback. Ends with CTE
    * `langpred(doc_id, lang)`.
    */
  private lazy val langTrigramSql: String =
    """WITH pad AS (
      | SELECT doc_id, ' ' || lower(text) || ' ' AS s FROM documents
      |), tri AS (
      | SELECT doc_id, list_transform(range(1, length(s) - 1),
      |   i -> substring(s, CAST(i AS INT), 3)) AS tris
      | FROM pad
      |), sc AS (
      | SELECT doc_id,
      |  len(list_filter(tris, x -> list_contains(
      |   ['der','die','und',' un','ein',' ei','ich','sch','ung','cht',
      |    'ist','das',' da','den','gen','ben','ten','ver',' ve','nde',
      |    'che',' ge','eit','hen','auf',' au','mit','für',' fü','übe',
      |    'äch'], x))) AS s_de,
      |  len(list_filter(tris, x -> list_contains(
      |   ['the',' th','ing','ng ',' an','and',' of','of ',' to','ed ',
      |    ' in','ion','ent',' is','tha','hat',' be','for',' fo','ere',
      |    'his','wit','ith','ly ',' he','was',' wa',' yo','you',' wh',
      |    'whi','oug'], x))) AS s_en,
      |  len(list_filter(tris, x -> list_contains(
      |   [' la','la ',' el','el ','ión','ció',' qu','que','ue ',' co',
      |    'con','una',' un','ara',' pa','par','ado','est',' es','os ',
      |    'nte','cia','ien','lo ',' lo','los','las',' y ','aña','eño'],
      |   x))) AS s_es,
      |  len(list_filter(tris, x -> list_contains(
      |   [' le','le ','les','des','ent',' pa','par',' qu','que',' et',
      |    'et ','une',' un','ait','eur','our',' po','pou','ais','ous',
      |    ' vo','vou','dan','ans','tio','té ','ré ','ère','ête','çai',
      |    'eau'], x))) AS s_fr,
      |  len(list_filter(tris, x -> list_contains(
      |   [' do','do ',' da','da ','ão ','ção','çõe',' qu','que',' co',
      |    'com','uma',' um','par',' pa','ra ',' se','os ','ado','nto',
      |    ' es','est','men',' na','na ',' no','no ','lho','nha','nho',
      |    'açã'], x))) AS s_pt
      | FROM tri
      |), langpred AS (
      | SELECT doc_id,
      |  CASE WHEN greatest(s_de, s_en, s_es, s_fr, s_pt) = 0 THEN 'und'
      |   WHEN s_de = greatest(s_de, s_en, s_es, s_fr, s_pt) THEN 'de'
      |   WHEN s_en = greatest(s_de, s_en, s_es, s_fr, s_pt) THEN 'en'
      |   WHEN s_es = greatest(s_de, s_en, s_es, s_fr, s_pt) THEN 'es'
      |   WHEN s_fr = greatest(s_de, s_en, s_es, s_fr, s_pt) THEN 'fr'
      |   ELSE 'pt' END AS lang
      | FROM sc
      |)""".stripMargin

  /** Shared DuckDB prelude for the exact-Jaccard dedup oracles: the distinct
    * 3-token shingle SET per document (mirroring [[Dedup.shingleHashes]]:
    * whitespace tokens, k=3, whole-token-list fallback below k tokens),
    * inverted-index pair intersections, and per-doc set sizes. MATERIALIZED:
    * DuckDB otherwise re-evaluates the list-lambda CTE per reference
    * (measured 13s -> 1s at sf0.01).
    */
  private lazy val shingleSetSql: String =
    """WITH ex AS MATERIALIZED (
      |  SELECT doc_id, unnest(s) AS g FROM (
      |    SELECT doc_id,
      |      CASE WHEN len(t) >= 3 THEN
      |        list_distinct(list_transform(range(1, len(t) - 1),
      |          i -> t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT)+1]
      |               || ' ' || t[CAST(i AS INT)+2]))
      |      ELSE [array_to_string(t, ' ')] END AS s
      |    FROM (SELECT doc_id, list_filter(
      |            string_split_regex(trim(text), '\s+'),
      |            tk -> length(tk) > 0) AS t FROM documents))
      |), sz AS MATERIALIZED (
      |  SELECT doc_id, count(*) AS n FROM ex GROUP BY doc_id
      |), inter AS MATERIALIZED (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
      |  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2
      |)""".stripMargin

  /** Shared DuckDB prelude for the exact WEIGHTED-Jaccard oracles: the
    * 3-token shingle MULTISET (term frequencies, mirroring
    * [[graft.functions.expr.ShingleTfExpr]]), pairwise Σmin intersections
    * and per-doc total weights; Σmax(a,b) = s_a + s_b - Σmin(a,b).
    */
  private lazy val shingleTfSql: String =
    """WITH tf AS MATERIALIZED (
      |  SELECT doc_id, g, count(*) AS c FROM (
      |    SELECT doc_id, unnest(s) AS g FROM (
      |      SELECT doc_id,
      |        CASE WHEN len(t) >= 3 THEN
      |          list_transform(range(1, len(t) - 1),
      |            i -> t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT)+1]
      |                 || ' ' || t[CAST(i AS INT)+2])
      |        ELSE [array_to_string(t, ' ')] END AS s
      |      FROM (SELECT doc_id, list_filter(
      |              string_split_regex(trim(text), '\s+'),
      |              tk -> length(tk) > 0) AS t FROM documents)))
      |  GROUP BY doc_id, g
      |), tot AS MATERIALIZED (
      |  SELECT doc_id, sum(c) AS s FROM tf GROUP BY doc_id
      |), winter AS MATERIALIZED (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |    sum(least(a.c, b.c)) AS smin
      |  FROM tf a JOIN tf b ON a.g = b.g AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2
      |)""".stripMargin
}
