package graft.operators

import scala.jdk.CollectionConverters._

import graft.Ckpt._
import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** L8 (SURVEY.md §2): training-data ASSEMBLY — the operations that turn a
  * curated corpus into training input: deterministic train/val/test
  * splitting, weighted per-source mixing, and token-budget sequence
  * packing. All three are pure integer/hex-string arithmetic over md5, so
  * every declared query carries a full DuckDB oracle.
  *
  * Why hash-based rather than RNG-based: at 100 TB a split/sample must be
  * (a) reproducible across reruns and engines, (b) stable under
  * repartitioning (a `rand()` sample changes membership whenever Spark
  * re-plans the task graph), and (c) joinable — any pipeline stage can
  * recompute a doc's split from its id alone, no membership table to
  * carry. md5-prefix bucketing gives all three; comparisons stay on
  * lowercase hex STRINGS (identical lexicographic semantics in Spark and
  * DuckDB — no cross-engine hex→int conversion to get wrong).
  */
object Curation {

  /** Hex-prefix buckets: md5 of a PURPOSE-SALTED key string. 2 hex chars
    * = 256 buckets for splits; 4 = 65,536 for permille-grained sampling.
    * The salt makes each surface's hash domain independent: unsalted,
    * split/mix/cap would all order docs by the SAME md5(doc_id) — e.g.
    * any mix rate ≤ ~797‰ (threshold < "cc") would keep only
    * train-split docs, silently emptying val/test downstream.
    */
  private def hexBucket(salt: String, key: Column, chars: Int): Column =
    substring(md5(concat(lit(salt), key.cast("string"))), 1, chars)

  /** Deterministic ~80/10/10 split: buckets 0x00–0xcb train (204/256),
    * 0xcc–0xe5 val (26/256), 0xe6–0xff test (26/256).
    */
  def splitExpr(key: Column): Column = {
    val h = hexBucket("split|", key, 2)
    when(h <= lit("cb"), lit("train"))
      .when(h <= lit("e5"), lit("val"))
      .otherwise(lit("test"))
  }

  /** L8a declared query: split the corpus, report per-split doc counts,
    * token mass, and an id-sum digest (so the oracle hash pins membership,
    * not just sizes). Narrow map + one 3-key aggregate.
    */
  def l8Split(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.documents
      .select(col("doc_id"), splitExpr(col("doc_id")).as("split"),
        size(split(col("text"), " ")).as("n_tokens"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"),
        sum(col("doc_id")).as("id_digest"))
      .orderBy(col("split"))
  }

  /** Floor/ceiling keep-permilles for the declared importance sample. */
  val ImpFloorPermille = 100
  val ImpCeilPermille = 1000

  /** L8i: IMPORTANCE (quality-weighted) SAMPLING — the DSIR-shaped
    * thinning step between a flat rate and a hard quality gate: every
    * document keeps a PROBABILITY that interpolates linearly (in exact
    * integer permille) with its unigram-LM NLL quality score between
    * `floorPermille` (worst doc in the corpus) and `ceilPermille` (best),
    * and a salted md5 bucket decides membership — so the thinned corpus
    * is biased toward in-distribution text without a cliff at any
    * threshold, yet membership stays deterministic (rerun/engine/
    * partition-stable, no RNG) and exactly oracle-replayable.
    *
    * Scale shape: the NLL score is [[TextOps.unigramNllMicro]] (two
    * narrow shuffles); the corpus score bounds are a 1-row broadcast; the
    * decision itself is a shuffle-free per-row expression (md5 + an
    * integer compare against the per-row hex threshold). A corpus with
    * one distinct score keeps everything at `floorPermille` (the
    * interpolation numerator is 0) — both engines compute that
    * identically via the greatest(hi−lo, 1) guard.
    */
  def importanceSample(docs: DataFrame, salt: String = "imp|",
                       floorPermille: Int = ImpFloorPermille,
                       ceilPermille: Int = ImpCeilPermille): DataFrame = {
    require(0 <= floorPermille && floorPermille <= ceilPermille
      && ceilPermille <= 1000, s"bad permilles: $floorPermille..$ceilPermille")
    val scored = TextOps.unigramNllMicro(docs)
    val bounds = scored.agg(min(col("nll_micro")).as("lo"),
      max(col("nll_micro")).as("hi"))
    scored.crossJoin(broadcast(bounds))
      .withColumn("p_permille", lit(floorPermille.toLong) +
        expr(s"(hi - nll_micro) * ${ceilPermille - floorPermille}" +
          " DIV greatest(hi - lo, 1L)"))
      .select(col("doc_id"), col("n_tokens"), col("nll_micro"), col("p_permille"),
        // p = 1000 needs the sentinel case (its 4-hex threshold would be
        // the 5-char "10000", which sorts BELOW "2…"); every lower p
        // compares lexicographically on same-length lowercase hex
        (col("p_permille") >= 1000 ||
          hexBucket(salt, col("doc_id"), 4) <
            format_string("%04x", expr("p_permille * 65536 DIV 1000"))).as("kept"))
      .orderBy(col("doc_id"))
  }

  /** L8i declared query: importance-sample the documents corpus. */
  def l8ImportanceSample(spark: SparkSession, dir: String): DataFrame =
    importanceSample(Tables(spark, dir).documents)

  /** L8n declared query: the admission gate against a PROPER reference —
    * the corpus scored against the `doc_id % 4 == 0` quarter's LM, so
    * the oracle exercises everything self-reference cannot: OOV token
    * exclusion from the mean, out-of-bounds clamping, and (at small
    * scales) the wholly-OOV floor.
    */
  def l8ImportanceGate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    val (nll, bounds) = importanceRef(docs.filter(col("doc_id") % 4 === 0))
    importanceAgainst(docs, nll, bounds)
  }

  /** The STATIC reference state [[importanceAgainst]] scores with — the
    * serving form of [[importanceSample]], where the scoring corpus is
    * not the arriving data but a fixed training corpus: (per-token NLL
    * table, 1-row per-doc NLL bounds), both computed once offline and
    * broadcast-sized at serve time (vocabulary + 1 row). Scoring the
    * reference against itself reproduces [[TextOps.unigramNllMicro]]
    * exactly (every token in-vocabulary), so the streaming gate pins to
    * the batch sampler on the fixture.
    */
  def importanceRef(refDocs: DataFrame,
                    tokenizer: Column => Column = TextOps.spaceTokenizer)
      : (DataFrame, DataFrame) = {
    val tf = refDocs
      .select(col("doc_id"), explode(tokenizer(col("text"))).as("token"))
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
    val cnt = tf.groupBy(col("token")).agg(sum(col("tf")).as("cnt"))
    val total = cnt.agg(sum(col("cnt")).as("t_total"))
    val nll = cnt.crossJoin(broadcast(total))
      .select(col("token"),
        round(log(col("t_total").cast("double") / col("cnt")) * lit(1e6))
          .cast("long").as("nll_micro"))
      .materialize()
    val bounds = scoreAgainst(refDocs, nll, tokenizer)
      .agg(min(col("nll_micro")).as("lo"), max(col("nll_micro")).as("hi"))
      .materialize()
    (nll, bounds)
  }

  /** Per-doc mean NLL over the IN-VOCABULARY tokens against a static NLL
    * table (OOV tokens carry no reference probability, so they are
    * excluded from the mean — the [[graft.operators.Eval.driftAgainst]]
    * convention; a wholly-OOV doc drops out and the caller defaults it).
    */
  private def scoreAgainst(docs: DataFrame, nll: DataFrame,
                           tokenizer: Column => Column): DataFrame =
    docs.select(col("doc_id"), explode(tokenizer(col("text"))).as("token"))
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
      .join(nll, Seq("token"))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_iv"),
        sum(col("tf") * col("nll_micro")).as("s_micro"))
      .select(col("doc_id"), col("n_iv"),
        expr("(2L * s_micro + n_iv) DIV (2L * n_iv)").as("nll_micro"))

  /** [[importanceSample]] against a FIXED reference — the admission-
    * control form a streaming pipeline runs per micro-batch
    * ([[graft.streaming.Streams.runImportanceGate]]): arriving documents
    * score against the reference LM, the keep-permille interpolates
    * inside the REFERENCE corpus' score bounds (scores beyond them clamp
    * to floor/ceiling — arriving data may be better or worse than
    * anything the reference saw), membership by the same salted hash.
    * Wholly-OOV documents (no reference token at all) keep the floor
    * permille — novel text is exactly what the drift monitor (T12), not
    * the quality gate, is for. Output: (doc_id, n_iv, nll_micro,
    * p_permille, kept); nll_micro is NULL for wholly-OOV docs.
    */
  def importanceAgainst(docs: DataFrame, nll: DataFrame, bounds: DataFrame,
                        salt: String = "imp|",
                        floorPermille: Int = ImpFloorPermille,
                        ceilPermille: Int = ImpCeilPermille,
                        tokenizer: Column => Column = TextOps.spaceTokenizer): DataFrame = {
    require(0 <= floorPermille && floorPermille <= ceilPermille
      && ceilPermille <= 1000, s"bad permilles: $floorPermille..$ceilPermille")
    docs.select(col("doc_id"))
      .join(scoreAgainst(docs, nll, tokenizer), Seq("doc_id"), "left_outer")
      .crossJoin(broadcast(bounds))
      .withColumn("p_permille",
        when(col("nll_micro").isNull, lit(floorPermille.toLong))
          .otherwise(lit(floorPermille.toLong) +
            expr(s"greatest(0L, least(hi - nll_micro, hi - lo))" +
              s" * ${ceilPermille - floorPermille} DIV greatest(hi - lo, 1L)")))
      .select(col("doc_id"), coalesce(col("n_iv"), lit(0L)).as("n_iv"),
        col("nll_micro"), col("p_permille"),
        (col("p_permille") >= 1000 ||
          hexBucket(salt, col("doc_id"), 4) <
            format_string("%04x", expr("p_permille * 65536 DIV 1000"))).as("kept"))
      .orderBy(col("doc_id"))
  }

  /** Permille sampling rate → 4-hex-char threshold: keep iff
    * bucket < threshold (lexicographic on same-length lowercase hex =
    * numeric). 1000‰ needs a sentinel ABOVE every hex string — "10000"
    * would sort below "2…"–"f…" — so it maps to "g" ('g' > 'f').
    */
  def rateThreshold(permille: Int): String = {
    require(permille >= 0 && permille <= 1000, s"bad rate: $permille")
    if (permille == 1000) "g" else f"${permille * 65536 / 1000}%04x"
  }

  /** Weighted corpus mix: per-source deterministic downsampling at the
    * given permille rates (absent sources use `defaultPermille`). The mix
    * a pretraining run executes — e.g. keep all of a high-quality source,
    * half of a mid one, a quarter of crawl. Keep/drop derives from
    * (source rate, doc hash) alone — stable under repartitioning and
    * engine-portable.
    */
  def mixFilter(source: Column, key: Column,
                rates: Map[String, Int], defaultPermille: Int): Column = {
    val threshold = rates.foldRight(lit(rateThreshold(defaultPermille)): Column) {
      case ((src, permille), els) =>
        when(source === lit(src), lit(rateThreshold(permille))).otherwise(els)
    }
    hexBucket("mix|", key, 4) < threshold
  }

  /** Rates for the declared query: binary-ish ladder over three named
    * fixture sources, 800‰ for the long tail.
    */
  val MixRates: Map[String, Int] = Map("src0" -> 1000, "src1" -> 500, "src2" -> 250)
  val MixDefaultPermille = 800

  /** L8b declared query: per-source kept/total counts under [[MixRates]],
    * with an id digest pinning exact membership.
    */
  def l8Mix(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.documents
      .select(col("doc_id"), col("source"),
        mixFilter(col("source"), col("doc_id"), MixRates, MixDefaultPermille).as("keep"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("keep"), col("doc_id")).otherwise(0L)).as("kept_id_digest"))
      .orderBy(col("source"))
  }

  val CapPerSource = 20

  /** L8e declared query: stratified per-source CAP — keep at most
    * [[CapPerSource]] docs per source, chosen in deterministic md5-hash
    * order (an unbiased, rerun-stable "random" subset; ties impossible
    * since doc_id breaks them). Rides
    * [[Relational.topKPerGroupSkewSafe]], whose rank-filter shape makes
    * Catalyst insert a PARTIAL WindowGroupLimit below the exchange —
    * each input partition ships ≤ k rows per source, the skew posture a
    * per-source cap NEEDS at 100 TB, where one crawl source can be half
    * the corpus (plan-asserted in RelationalSpec).
    */
  def l8Cap(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    Relational.topKPerGroupSkewSafe(
      t.documents.select(col("doc_id"), col("source"),
        md5(concat(lit("cap|"), col("doc_id").cast("string"))).as("h")),
      keys = Seq("source"), order = Seq(col("h"), col("doc_id")),
      k = CapPerSource)
      .select(col("doc_id"), col("source"), col("rn"))
      .orderBy(col("source"), col("rn"))
  }

  /** L8d declared query: median-gated quality filter — keep documents at
    * or above the corpus-median [[TextOps.qualityPermille]]. The
    * quantile-band filtering step of a curation run, shaped for scale:
    * the threshold reaches the plan as a 1-row broadcast (agg →
    * crossJoin(broadcast)), never a driver-side collect; the filter
    * itself is a narrow codegen'd pass. Exactly replayable: the median
    * of an integer population is integer or half-integer in BOTH engines
    * (Spark `percentile` and DuckDB `quantile_cont` share the
    * (n−1)·p linear-interpolation definition).
    */
  def l8QualityGate(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val scored = t.documents
      .select(col("doc_id"), TextOps.qualityPermille(col("text")).as("quality_permille"))
    val med = scored
      .agg(expr("percentile(quality_permille, 0.5)").as("median_permille"))
    scored.crossJoin(broadcast(med))
      .filter(col("quality_permille") >= col("median_permille"))
      .orderBy(col("doc_id"))
  }

  /** Token-budget sequence packing: walk the corpus in doc_id order,
    * assign each doc to bin ⌊tokens-before-it / budget⌋ — contiguous
    * concat-and-chunk packing (a bin's docs may overshoot the budget by
    * at most one document's tail, exactly like streaming-concat packing
    * in LLM data loaders).
    *
    * The running total is a DISTRIBUTED prefix sum, not a
    * single-partition window — in one of two shapes. With `bucket`
    * (a deterministic column MONOTONE non-decreasing in doc_id, e.g.
    * `doc_id DIV width` — the [[graft.operators.Relational.bucketedRank]]
    * contract, sums instead of counts): per-bucket token sums feed
    * broadcast earlier-bucket offsets, per-bucket cumulative sums finish
    * the total — no range-sampling job, no corpus checkpoint; only the
    * ≤ #buckets-row offset frame is pinned, and the (cheap, or
    * caller-materialized) input executes once per branch. Without it:
    * range-partition by doc_id, per-partition cumulative sums, offsets
    * from per-partition totals — adaptive to ANY doc_id distribution,
    * at the price of the sampler job plus a corpus-wide checkpoint
    * (the boundaries are nondeterministic, so both branches must see
    * ONE materialized partitioning). A global `Window.orderBy` would
    * funnel 100 TB through ONE task either way; both forms' largest
    * sequential structure is the offset table. Output is invariant to
    * the decomposition because a prefix sum over a fixed total order is
    * boundary-associative — both forms asserted against the naive
    * single-partition window in CurationSpec.
    */
  def packBins(docs: DataFrame, tokens: Column, budget: Long,
               partitions: Int = 32,
               bucket: Option[Column] = None): DataFrame = {
    require(budget > 0, "budget must be positive")
    val narrow = docs.select(col("doc_id"), tokens.as("n_tokens"))
    val located = bucket match {
      case Some(b) =>
        val withB = narrow.withColumn("__b", b)
        val offsets = withB.groupBy(col("__b"))
          .agg(sum(col("n_tokens")).as("__btok"))
          .withColumn("__boff",
            coalesce(sum(col("__btok")).over(
              Window.orderBy(col("__b")).rowsBetween(Window.unboundedPreceding, -1)),
              lit(0L)))
          // bucket-sized: pins ONE upstream execution. persist, NOT
          // materialize: this branch is fully deterministic (no range
          // sampling), so a lazy cache pin is sound — and a
          // localCheckpoint here minted a FRESH lineage every
          // invocation that could never cache-match, making each warm
          // l0_pipeline/l8_pack call re-execute the whole upstream
          // chain eagerly at frame-CONSTRUCTION time (measured 0.85 s
          // of the warm l0 run before any action fired)
          .persist()
        withB
          // explicit ROWS frame: the default RANGE frame treats order-by
          // PEERS as one unit, double-counting if doc_id ever duplicates
          .withColumn("__cum",
            sum(col("n_tokens")).over(
              Window.partitionBy(col("__b")).orderBy(col("doc_id"))
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          // null-safe: bucket(NULL id) is NULL — grouped above, droppable
          // by a plain equi-join
          .join(broadcast(offsets.select(col("__b").as("__ob"), col("__boff"))),
            col("__b") <=> col("__ob"))
          .withColumn("tokens_before", col("__boff") + col("__cum") - col("n_tokens"))
      case None =>
        // materialized ONCE: the range boundaries are sampled
        // (nondeterministic across evaluations) and pid is
        // stage-dependent — the offsets branch and the main branch must
        // see the SAME partitioning, not two independent re-executions
        // (a cluster run would use reliable `checkpoint`; ReuseExchange
        // usually saves us but is not a contract)
        val parts = narrow
          .repartitionByRange(partitions, col("doc_id"))
          .withColumn("pid", spark_partition_id())
          .materialize()
        val offsets = parts.groupBy(col("pid"))
          .agg(sum(col("n_tokens")).as("ptot"))
          .withColumn("poff",
            coalesce(sum(col("ptot")).over(
              Window.orderBy(col("pid")).rowsBetween(Window.unboundedPreceding, -1)),
              lit(0L)))
          .select(col("pid"), col("poff"))
        parts.join(broadcast(offsets), "pid")
          .withColumn("cum_in_part",
            sum(col("n_tokens")).over(
              Window.partitionBy(col("pid")).orderBy(col("doc_id"))
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("tokens_before",
            col("poff") + col("cum_in_part") - col("n_tokens"))
    }
    // integer DIV: exact at any magnitude (a double round-trip could
    // misplace a boundary doc once cumulative tokens pass ~2^45)
    located.select(col("doc_id"), col("n_tokens"),
      expr(s"tokens_before DIV ${budget}L").as("bin"))
  }

  /** Monotone doc_id bucket the DECLARED packing queries decompose on:
    * fixture doc_ids are dense 1..n, so `doc_id DIV 256` yields ~n/256
    * balanced buckets with zero jobs spent learning boundaries. A corpus
    * with sparse or unbounded ids picks its own width (~n / desired
    * buckets) or falls back to the sampler path (`bucket = None`).
    */
  val PackBucketWidth = 256L
  private def packBucket: Column = expr(s"doc_id DIV ${PackBucketWidth}L")

  val PackBudget = 512L

  /** L8c declared query: pack at [[PackBudget]] tokens/bin, report per-bin
    * shape. Oracle replays the same binning with a plain windowed SUM.
    */
  def l8Pack(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    packBins(t.documents, size(split(col("text"), " ")).cast("long"), PackBudget,
      bucket = Some(packBucket))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
      .orderBy(col("bin"))
  }

  /** Training-shard assembly: materialize [[packBins]]'s bins as the
    * concatenated text shards a data loader streams — one row per bin
    * with the docs concatenated in doc_id order (exactly the contiguous
    * concat-and-chunk order the packing promised). The declared query
    * emits `md5(shard_text)` instead of the shard body: the hash pins
    * byte-exact shard CONTENT cross-engine without shipping megabyte rows
    * through the comparator.
    *
    * Scale: per-group state is bounded by the pack budget (a bin holds ≤
    * budget + one doc tail of tokens, by construction), so the ordered
    * `collect_list` is safe at any corpus size — the shuffle moves each
    * doc's text exactly once, keyed by bin. Ordering inside the group is
    * an `array_sort` over (doc_id, text) structs (doc_id leads the struct,
    * so the sort IS doc order), not an `orderBy` the aggregate would
    * silently drop.
    */
  def buildShards(docs: DataFrame, tokens: Column, budget: Long,
                  partitions: Int = 32,
                  bucket: Option[Column] = None): DataFrame = {
    val packed = packBins(docs, tokens, budget, partitions, bucket)
    packed.join(docs.select(col("doc_id"), col("text")), "doc_id")
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        md5(concat_ws(" ",
          transform(array_sort(collect_list(struct(col("doc_id"), col("text")))),
            _.getField("text")))).as("shard_md5"))
  }

  /** L8k declared query: shards at [[PackBudget]] tokens. */
  def l8Shards(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    buildShards(t.documents, size(split(col("text"), " ")).cast("long"), PackBudget,
      bucket = Some(packBucket))
      .orderBy(col("bin"))
  }

  /** Decontamination gram width: 5-word grams. Real pipelines use ~13-gram
    * overlap (benchmark answer strings are long); the fixture word-soup's
    * tiny vocabulary makes 4-grams collide by chance (60/403 train docs at
    * sf0.01) while 5-grams isolate genuine shared passages (7/403, and the
    * count is stable from n=6 up — the residue is true near-duplicate
    * text, exactly what decontamination must catch).
    */
  val DecontamN = 5

  /** Ids of `corpus` rows sharing at least one `n`-word gram with any
    * `benchmark` row — the train/test CONTAMINATION set a curation run
    * must subtract before training.
    *
    * Scale shape: the benchmark side is tiny at ANY corpus scale (eval
    * suites are megabytes against 100 TB of training text), so its
    * distinct gram set rides a BROADCAST hash join — the corpus-side gram
    * explosion stays a narrow per-row pass that never shuffles text; the
    * only exchange is the final distinct on the constant-width id. At
    * petabyte scale the gram strings would be xxhash64-ed to 8 bytes
    * before the broadcast (a false positive only ever drops one extra
    * doc); kept as strings here so the DuckDB oracle replays byte-exactly.
    */
  def contaminatedIds(corpus: DataFrame, benchmark: DataFrame,
                      idCol: String = "doc_id", textCol: String = "text",
                      n: Int = DecontamN): DataFrame = {
    def grams(d: DataFrame) = d.select(col(idCol),
      explode(Dedup.shingles(Dedup.tokens(col(textCol)), n)).as("gram"))
    // parallelism floor on the corpus side only (the probe's shingle
    // pass runs in the scan stage — one task on the fixture's single
    // row group, no-op at scale); the benchmark side stays tiny
    grams(graft.Engine.parallelFloor(corpus))
      .join(broadcast(grams(benchmark).select(col("gram")).distinct()), "gram")
      .select(col(idCol)).distinct()
  }

  /** L9 declared query: benchmark decontamination over the fixture corpus —
    * the held-out test split (via [[splitExpr]], the same split a training
    * run would publish as its benchmark) is the contamination source;
    * report per-source train-doc counts, how many are contaminated, and an
    * id digest pinning exactly WHICH docs the subtraction removes.
    */
  def l9Decontam(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val docs = t.documents.select(col("doc_id"), col("source"), col("text"),
      splitExpr(col("doc_id")).as("split"))
    val train = docs.filter(col("split") === "train")
    val contaminated = contaminatedIds(train, docs.filter(col("split") === "test"))
      .withColumn("contaminated", lit(true))
    train.join(contaminated, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_train"),
        sum(when(col("contaminated"), 1L).otherwise(0L)).as("n_contaminated"),
        sum(when(col("contaminated"), col("doc_id")).otherwise(0L)).as("contaminated_id_digest"))
      .orderBy(col("source"))
  }

  /** Ids of `corpus` rows whose token SET is near-duplicate (exact
    * Jaccard ≥ `threshold`) of some `benchmark` row — FUZZY
    * decontamination, catching the contamination [[contaminatedIds]]'
    * exact n-gram subtraction misses: benchmark text that was
    * reformatted, lightly paraphrased, or word-reordered into the crawl
    * (word-bag Jaccard is order-blind where a 5-gram is order-exact).
    * Real curation runs use both: exact grams for verbatim leaks, set
    * similarity for mutated ones.
    *
    * Scale shape — the bipartite cousin of [[Dedup.simJoinParts]]:
    *  1. both sides get [[Dedup.bandedToks]] banded-minhash signatures;
    *     the benchmark side is tiny at any corpus scale (eval suites are
    *     MBs against 100 TB), so its exploded band rows ride a BROADCAST
    *     hash join against the corpus's — candidate generation is one
    *     narrow corpus pass, no self-join, no salting needed (bucket
    *     skew is bounded by the broadcast side's size);
    *  2. the size-ratio prune (|A|/|B| ∈ [τ, 1/τ], conservative epsilon)
    *     discards most false candidates as a two-int compare;
    *  3. exact-Jaccard verification re-reads ONLY candidate rows: the
    *     candidate id set (bounded by the benchmark's near-dup footprint,
    *     ≪ corpus) broadcasts back against the corpus scan, so tokens are
    *     re-derived for survivors instead of caching a corpus-wide token
    *     frame — the second scan is narrow and the big frame is never
    *     shuffled or materialized. The intersect is the sorted-merge
    *     native kernel over arrays sorted once per side
    *     ([[graft.functions.SortedIntersectSize]], the simJoin verify
    *     discipline).
    */
  def fuzzyContaminatedIds(corpus: DataFrame, benchmark: DataFrame,
                           idCol: String = "doc_id", textCol: String = "text",
                           threshold: Double = Dedup.DefaultThreshold): DataFrame = {
    def named(d: DataFrame) = d.select(col(idCol).as("doc_id"), col(textCol).as("text"))
    val cb = Dedup.bandedToks(named(corpus))
    val bb = Dedup.bandedToks(named(benchmark))
    def bandRows(d: DataFrame, side: String) =
      d.select(col("doc_id").as(s"${side}_id"), col("n").as(s"${side}_n"),
        posexplode(col("bands")).as(Seq("band_idx", "band_hash")))
    val cand = bandRows(cb, "train")
      .join(broadcast(bandRows(bb, "bench")), Seq("band_idx", "band_hash"))
      .filter(least(col("train_n"), col("bench_n")).cast("double")
        >= greatest(col("train_n"), col("bench_n")) * threshold - 1e-9)
      .select(col("train_id"), col("bench_id")).distinct()
      // pinned once: the candidate-id broadcast AND the verify join both
      // consume it — inlined, the corpus-side minhash pass would run
      // twice (the l0Pipeline/driftAgainst contract). persist keeps the
      // chain rooted at the scan (re-declared runs cache-match)
      .persist()
    val candToks = named(corpus)
      .join(broadcast(cand.select(col("train_id").as("doc_id")).distinct()), "doc_id")
      .select(col("doc_id").as("train_id"),
        array_sort(array_distinct(Dedup.tokens(col("text")))).as("a_toks"))
    val benchToks = bb.select(col("doc_id").as("bench_id"),
      array_sort(col("toks")).as("b_toks"))
    cand.join(candToks, "train_id")
      .join(broadcast(benchToks), "bench_id")
      .withColumn("i", graft.functions.SortedIntersectSizeCol(col("a_toks"), col("b_toks")))
      .withColumn("u", size(col("a_toks")) + size(col("b_toks")) - col("i"))
      .filter(col("i").cast("double") / col("u") >= threshold)
      .select(col("train_id").as(idCol)).distinct()
  }

  /** L9b declared query: FUZZY benchmark decontamination — same
    * train/test construction and per-source summary as [[l9Decontam]],
    * with near-dup token-set overlap as the contamination predicate.
    */
  def l9FuzzyDecontam(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val docs = t.documents.select(col("doc_id"), col("source"), col("text"),
      splitExpr(col("doc_id")).as("split"))
    val train = docs.filter(col("split") === "train")
    val contaminated =
      fuzzyContaminatedIds(train, docs.filter(col("split") === "test"))
        .withColumn("contaminated", lit(true))
    train.join(contaminated, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_train"),
        sum(when(col("contaminated"), 1L).otherwise(0L)).as("n_contaminated"),
        sum(when(col("contaminated"), col("doc_id")).otherwise(0L)).as("contaminated_id_digest"))
      .orderBy(col("source"))
  }

  /** Bloom sizing for [[bloomContaminatedIds]]: the width is DERIVED
    * from the benchmark's distinct-gram count — m = max(2^17,
    * 24·n rounded up to a 64-bit word) — the k ∝ data discipline
    * [[Similarity.semCellsFor]] uses for SemDeDup cells, and for the
    * same reason: any FIXED width saturates at some scale (a 2^17-bit
    * filter measured ~95% fill → ~90% of train docs false-flagged at
    * sf0.1). The FP budget is sized at DOC level, not gram level —
    * a doc is false-flagged if ANY of its ~10^2 grams false-hits, so
    * the per-gram rate must sit well under 10^-4: 24 bits/gram with
    * k = 12 probes gives fill 1−e^(−1/2) ≈ 0.39 and per-gram FP
    * 0.39^12 ≈ 1.3·10^-5 → ~0.1% of clean docs dropped at EVERY
    * benchmark size (16/4 measured 15% of train docs false-flagged —
    * cheap bits, expensive docs). The
    * derivation is integer arithmetic the oracle replays as a scalar
    * subquery, so m — and therefore every false positive — is part of
    * the hash contract.
    */
  val BloomMinBits: Long = 1L << 17
  /** Filter bits budgeted per distinct benchmark gram. */
  val BloomBitsPerGram: Long = 24L
  /** Probe count (k) per gram — double-hashing h1 + i·h2, the standard
    * Kirsch–Mitzenmacher construction. 12 ≈ the information-theoretic
    * optimum (m/n)·ln2 for 24 bits/gram.
    */
  val BloomHashes: Int = 12

  /** Filter width in bits for a benchmark of `nGrams` distinct grams:
    * max(2^17, 24·n) rounded UP to a multiple of 64 so the bitmap
    * packs whole words. Any m works for the double-hash modulus — no
    * power-of-two constraint, which keeps the replay exact integer
    * arithmetic (no log2 edge cases).
    */
  def bloomBitsFor(nGrams: Long): Long =
    math.max(BloomMinBits, 64L * ((BloomBitsPerGram * nGrams + 63L) / 64L))

  /** One 32-bit hash lane from a gram's md5 HEX STRING at `off` (0 or
    * 8) — the md5 convention every cross-engine hash in this repo uses,
    * so DuckDB replays the VALUE exactly (`('0x'||substr(md5(g),1,8))::
    * BIGINT`). Two disjoint 8-hex-digit windows give the two
    * independent lanes double-hashing needs. Takes the ALREADY-HASHED
    * hex, not the gram: higher-order-function lambdas are interpreted
    * with no common-subexpression elimination, so an `md5(gram)` inlined
    * here would re-digest the gram once per lane per probe — 2·k md5
    * invocations per gram where one suffices (measured 5.4 s → 0.6 s on
    * the declared query at sf0.1; guide §4.4's duplicated-evaluation
    * trap, in expression-tree form).
    */
  private def bloomLaneFromHex(md5hex: Column, off: Int): Column =
    conv(substring(md5hex, off + 1, 8), 16, 10).cast("long")

  /** The k bit positions of one gram given its two lanes:
    * (h1 + i·h2) mod m, i < k. Lane columns must be BOUND lambda
    * variables (struct fields of an outer `transform`), so each probe
    * costs one multiply-add-mod, not a hash re-evaluation.
    */
  private def bloomPositionsFromLanes(h1: Column, h2: Column, m: Long): Column =
    transform(sequence(lit(0), lit(BloomHashes - 1)),
      i => (h1 + i.cast("long") * h2) % lit(m))

  /** (h1, h2) lane structs for every gram of a shingle array: the md5
    * digest runs ONCE per gram (bound lambda variable of the inner
    * transform), the two conv-parses once per gram — the only per-gram
    * hash work the bloom probe pays.
    */
  private def bloomLaneStructs(grams: Column): Column =
    transform(transform(grams, md5(_)), h =>
      struct(bloomLaneFromHex(h, 0).as("h1"), bloomLaneFromHex(h, 8).as("h2")))

  /** Ids of `corpus` rows with at least one `n`-word gram whose k bloom
    * positions are ALL set in a filter built from the benchmark's gram
    * set — BLOOM-FILTER decontamination, the constant-memory scale form
    * of [[contaminatedIds]]. Output is a SUPERSET of the exact variant's
    * (false positives drop a few extra docs — always safe in the
    * decontamination direction), and the FP arithmetic is deterministic
    * md5 algebra the oracle replays exactly.
    *
    * Why a third variant when the exact one already broadcasts: the
    * exact gram set grows with the BENCHMARK (strings, tens of MB for a
    * big eval suite) and the probe is a broadcast hash JOIN on the
    * exploded corpus gram stream. The bloom build compresses the
    * benchmark side to a 24-bit-per-gram bitmap (3 bytes where the
    * exact set ships whole gram strings), and the probe
    * becomes a pure narrow per-row `exists(grams, all-bits-set)`
    * projection — NO join, NO exchange, nothing keyed by gram at all on
    * the 100 TB side. The corpus-side plan is scan → filter, the
    * theoretical minimum for this predicate.
    *
    * Driver-side step: the built filter is collected as ≤ m/64
    * (word_index, word) rows — bounded by the BENCHMARK's gram count
    * (24 bits each; evals are MBs at any corpus scale), never by the
    * corpus (the bounded-collect discipline; cf. the ≤k index metadata
    * collects in Similarity) — and re-enters the plan as one array
    * literal.
    */
  /** The built (m, bitmap) pair for a benchmark frame, memoized per
    * (session, canonical benchmark plan, n) — the [[graft.operators
    * .Similarity]] index-build discipline: a decontamination filter is
    * built ONCE per benchmark and probed by every corpus batch, so a
    * Verify/Bench session re-running the two build jobs (distinct-gram
    * count + bitmap fold/collect) per `l9_bloom_decontam` execution
    * was charging the build once per query (measured ~1.4 s of the
    * query's 2.2 s). The build is deterministic md5 algebra over an
    * immutable fixture dir, so the memo returns exactly what the
    * un-memoized call computed; Bench surfaces the one-time cost as a
    * `shared_build` entry like the PQ/IVF/BM25 builds.
    */
  private val BloomBuildCache = new graft.SessionCache[
    (org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, Int),
    (Long, Array[Long])]

  private[graft] def bloomFilterFor(benchmark: DataFrame, textCol: String,
                                    n: Int): (Long, Array[Long]) =
    BloomBuildCache.getOrElseUpdate(benchmark.sparkSession,
      (benchmark.queryExecution.analyzed.canonicalized, n)) {
      // 1. size: m follows the benchmark's distinct-gram count (1-row
      // collect), then build: grams → bit positions → bit_or-fold into
      // packed 64-bit words (vocabulary-sized shuffle on ≤m/64 keys)
      val benchGrams = benchmark
        .select(explode(Dedup.shingles(Dedup.tokens(col(textCol)), n)).as("gram"))
      val m = bloomBitsFor(
        benchGrams.agg(count_distinct(col("gram"))).collect()(0).getLong(0))
      val wordRows = benchGrams
        .select(md5(col("gram")).as("mh"))
        .select(bloomLaneFromHex(col("mh"), 0).as("h1"),
          bloomLaneFromHex(col("mh"), 8).as("h2"))
        .select(explode(bloomPositionsFromLanes(col("h1"), col("h2"), m)).as("pos"))
        .select(floor(col("pos") / 64).cast("int").as("w"),
          expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").as("bit"))
        .groupBy(col("w")).agg(expr("bit_or(bit)").as("word"))
        .collect()
      val bitmap = new Array[Long]((m / 64).toInt)
      wordRows.foreach(r => bitmap(r.getInt(0)) = r.getLong(1))
      (m, bitmap)
    }

  def bloomContaminatedIds(corpus: DataFrame, benchmark: DataFrame,
                           idCol: String = "doc_id", textCol: String = "text",
                           n: Int = DecontamN): DataFrame = {
    val (m, bitmap) = bloomFilterFor(benchmark, textCol, n)
    val bm = typedLit(bitmap.toSeq)
    // power-of-two table so the probe's bit test stays pure Column
    // algebra (shiftleft-by-column has no Scala-DSL form)
    val pow2 = typedLit(Array.tabulate(64)(1L << _).toSeq)
    // 2. probe: narrow projection — a doc is flagged iff any gram has
    // all k bits set. Grams are pre-digested to (h1, h2) lane structs
    // ONCE ([[bloomLaneStructs]]); the per-probe work inside the
    // interpreted forall is a multiply-add-mod + two array lookups.
    val hit = exists(
      bloomLaneStructs(Dedup.shingles(Dedup.tokens(col(textCol)), n)), s =>
        forall(bloomPositionsFromLanes(
          s.getField("h1"), s.getField("h2"), m), p =>
          element_at(bm, floor(p / 64).cast("int") + 1)
            .bitwiseAND(element_at(pow2, (p % 64).cast("int") + 1)) =!= 0L))
    // parallelism floor + pushdown barrier: the probe is a deterministic
    // filter, so without the barrier Catalyst pushes it BELOW the floor's
    // exchange and it evaluates serially in the single-task scan stage
    // (measured 0.7 s/run at sf0.1 with the floored stage doing nothing);
    // the barrier keeps the probe above the exchange, 32-way. No-op at
    // scale, where the scan is already parallel and the floor vanishes.
    graft.Engine.parallelFloor(corpus)
      .filter(graft.functions.PushdownBarrierCol(hit))
      .select(col(idCol)).distinct()
  }

  /** L9c declared query: BLOOM benchmark decontamination — the
    * [[l9Decontam]] construction and per-source summary with the
    * constant-memory bloom probe as the contamination predicate. The
    * digest pins exactly which docs the filter flags, false positives
    * included — a wrong lane, probe count, modulus, or bit-packing
    * detail shifts the digest and fails the hash gate.
    */
  /** The declared split-tagged documents frame shared by the l9 family
    * and the `bloom_filter` shared build ([[graft.Registry.sharedBuilds]];
    * the frames must be CONSTRUCTED identically for the bloom build
    * memo's canonical-plan key to hit).
    */
  private[graft] def l9SplitDocs(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents.select(col("doc_id"), col("source"),
      col("text"), splitExpr(col("doc_id")).as("split"))

  def l9BloomDecontam(spark: SparkSession, dir: String): DataFrame = {
    val docs = l9SplitDocs(spark, dir)
    val train = docs.filter(col("split") === "train")
    val flagged = bloomContaminatedIds(train, docs.filter(col("split") === "test"))
      .withColumn("flagged", lit(true))
    train.join(flagged, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_train"),
        sum(when(col("flagged"), 1L).otherwise(0L)).as("n_flagged"),
        sum(when(col("flagged"), col("doc_id")).otherwise(0L)).as("flagged_id_digest"))
      .orderBy(col("source"))
  }

  /** Deterministic epoch SHUFFLE: assign every doc its global training-order
    * position under a seeded md5 permutation — the "random but reproducible"
    * per-epoch reorder a pretraining data loader applies (new salt per
    * epoch → fresh permutation, same salt → byte-identical rerun).
    *
    * The global row_number is a DISTRIBUTED prefix sum exactly like
    * [[packBins]]: range-partition on the hash, rank within each
    * partition, add broadcast per-partition count offsets — never a
    * single-task global window. Output invariant to the sampled range
    * boundaries for the same reason (prefix counts over a fixed total
    * order are boundary-associative; asserted against the naive
    * single-partition window in CurationSpec).
    *
    * PRECONDITION (same as the packBins bucket path): `docs` must be
    * DETERMINISTIC across re-executions — a parquet scan, a checkpointed
    * frame, anything whose row set cannot change between jobs. The
    * offsets branch and the rank branch intentionally re-execute the
    * input independently (that is what removed the corpus-wide
    * checkpoint); a nondeterministic frame (an un-seeded sample, a
    * retried non-checkpointed shuffle lineage) can disagree between the
    * two branches and produce duplicated or skipped positions. Callers
    * with such a frame must `.materialize()` it first.
    */
  def epochOrder(docs: DataFrame, key: Column, salt: String,
                 partitions: Int = 32): DataFrame = {
    // Hash-PREFIX buckets, the stratumRank decomposition: the bucket is
    // the leading hex chars of the order hash itself, so bucket(r1) <
    // bucket(r2) implies r1 precedes r2 under (h, k) (fixed-length hex —
    // prefix order agrees with full-string order) and the offsets branch
    // and the rank branch agree with NO corpus materialization. The
    // earlier form repartitionByRange'd on (h, k) and keyed on
    // spark_partition_id, paying a range-sampling job plus a corpus-wide
    // checkpoint write/read per call — at 100 TB that checkpoint IS the
    // cost of the permutation. md5 is uniform, so 16^chars buckets are
    // balanced by construction; only the ≤ 16^chars-row count frame is
    // pinned.
    val chars = math.max(1,
      math.ceil(math.log(math.max(partitions, 2)) / math.log(16)).toInt)
    val withH = docs
      // full 32-hex md5: practically collision-free, and the key still
      // tie-breaks so the permutation is total by construction
      .select(key.as("k"), hexBucket(salt + "|", key, 32).as("h"))
      .withColumn("__b", substring(col("h"), 1, chars))
    val offsets = withH.groupBy(col("__b"))
      .agg(count(lit(1)).as("__bn"))
      .withColumn("__boff",
        coalesce(sum(col("__bn")).over(
          Window.orderBy(col("__b")).rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .materialize() // bucket-sized: pins ONE upstream execution for the
                     // broadcast side
    withH
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("__b")).orderBy(col("h"), col("k"))))
      // null-safe bucket equality: a null key hashes to a null bucket,
      // which groupBy groups but a plain equi-join would silently drop
      .join(broadcast(offsets.select(col("__b").as("__ob"), col("__boff"))),
        col("__b") <=> col("__ob"))
      // INT is safe here: pos is a corpus-row ordinal, and an epoch
      // permutation is materialized per training run over the POST-
      // curation corpus — beyond 2³¹ rows you shard epochs (l8_shards)
      // long before this cast binds. (Contrast stratified rank, which
      // is BIGINT because it ranks the unbounded raw corpus.)
      .select(col("k").as("doc_id"), (col("__boff") + col("rn")).cast("int").as("pos"))
  }

  val ShuffleSalt = "epoch0"

  /** L8f declared query: the [[ShuffleSalt]] epoch permutation of the
    * corpus. Full (doc_id, pos) output so the oracle hash pins the entire
    * permutation, not a digest of it.
    */
  def l8Shuffle(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    epochOrder(t.documents, col("doc_id"), ShuffleSalt).orderBy(col("pos"))
  }

  /** Exact-count STRATIFIED sampling: within every stratum (e.g.
    * (lang, source)) keep exactly ⌈rate · stratum_size⌉ rows, chosen in
    * deterministic salted-md5 order — the proportional-allocation sampler
    * a curation run uses to thin a corpus while preserving its
    * language/source composition exactly (a plain hash-threshold sample
    * only hits the rate in expectation; per-stratum counts drift
    * binomially, and rare strata can vanish outright — ⌈·⌉ guarantees
    * every non-empty stratum survives).
    *
    * The within-stratum rank is the same DISTRIBUTED prefix sum as
    * [[packBins]]/[[epochOrder]], keyed per stratum: range-partition on
    * (strata…, hash, key) so each stratum occupies a contiguous partition
    * range, rank within each (partition, stratum) slice, then add
    * per-(partition, stratum) count offsets — a #partitions × #strata
    * table, broadcast back. A `Window.partitionBy(strata)` rank would
    * funnel the hottest stratum (one crawl source can be half of 100 TB)
    * through ONE task; here a hot stratum spreads over as many range
    * partitions as its mass demands. Stratum sizes join back as a
    * broadcast (strata counts are small at any corpus scale).
    */
  def stratifiedSample(rows: DataFrame, strata: Seq[String], keyCol: String,
                       ratePermille: Int, salt: String,
                       partitions: Int = 32,
                       precollected: Option[Array[Row]] = None): DataFrame = {
    require(ratePermille >= 0 && ratePermille <= 1000, s"bad rate: $ratePermille")
    // ⌈size · rate / 1000⌉ in pure integer arithmetic (same DIV identity
    // both engines evaluate exactly at any magnitude)
    stratumRank(rows, strata, keyCol, salt, partitions, precollected)
      .select(col(keyCol) +: strata.map(col) :+ col("stratum_size") :+
        // rn stays BIGINT: a single stratum (one crawl source) can exceed
        // 2^31 rows at 100 TB, and an INT cast would silently wrap the
        // emitted rank (the keep flag is computed from the pre-cast long)
        col("rn").as("rn") :+
        (col("rn") <=
          expr(s"(stratum_size * $ratePermille + 999) DIV 1000")).as("sampled"): _*)
  }

  /** (keyCol, strata…, __h salted order hash, __b hash-prefix bucket) —
    * the shared projection under both the rank pass and the bucket-count
    * pass, extracted so [[documentsStratumCounts]] builds bit-identical
    * counts to the in-line collect it replaces.
    */
  private def bucketedHash(rows: DataFrame, strata: Seq[String],
                           keyCol: String, salt: String,
                           partitions: Int): DataFrame = {
    val chars = math.max(1,
      math.ceil(math.log(math.max(partitions, 2)) / math.log(16)).toInt)
    rows
      .select(col(keyCol) +: strata.map(col) :+
        hexBucket(salt + "|", col(keyCol), 32).as("__h"): _*)
      .withColumn("__b", substring(col("__h"), 1, chars))
  }

  /** Per-(stratum, bucket) count table for the DOCUMENTS fixture,
    * memoized per (session, dir, strata, keyCol, salt, partitions) —
    * the one collect job in [[stratumRankWithSizes]]'s decomposition,
    * shared across the declared sampler queries' warm re-executions
    * (Verify and Bench invoke each repeatedly) under the engine-wide
    * immutable-corpus-dir assumption ([[graft.SessionCache]]). Cached
    * ROWS equal the un-memoized collect's exactly (CurationSpec pins a
    * recompute). Bounded: #strata × 16^chars rows of driver metadata.
    */
  private val DocStratumCountsCache =
    new graft.SessionCache[(String, Seq[String], String, String, Int), Array[Row]]

  private def documentsStratumCounts(spark: SparkSession, dir: String,
                                     strata: Seq[String], keyCol: String,
                                     salt: String,
                                     partitions: Int = 32): Array[Row] =
    DocStratumCountsCache.getOrElseUpdate(
      spark, (dir, strata, keyCol, salt, partitions)) {
      val withH = bucketedHash(
        Tables(spark, dir).documents, strata, keyCol, salt, partitions)
      withH.groupBy(strata.map(col) :+ col("__b"): _*)
        .agg(count(lit(1)).as("__bn")).collect()
    }

  /** The distributed within-stratum rank both samplers share: every row of
    * `rows` with its stratum's size and its 1-based rank in the stratum's
    * salted-md5 order — (keyCol, strata…, stratum_size, rn). See
    * [[stratifiedSample]] for the prefix-sum decomposition rationale.
    */
  def stratumRank(rows: DataFrame, strata: Seq[String], keyCol: String,
                  salt: String, partitions: Int = 32,
                  precollected: Option[Array[Row]] = None): DataFrame =
    stratumRankWithSizes(rows, strata, keyCol, salt, partitions, precollected)._1

  /** [[stratumRank]] plus the per-stratum sizes its decomposition already
    * collected — (strata values → row count), in the sorted stratum order
    * of the broadcast relation — so a caller that needs a strata-sized
    * side table ([[temperatureMix]]'s quota allocation) derives it from
    * the SAME one collect job instead of paying its own aggregate.
    */
  private[operators] def stratumRankWithSizes(
      rows: DataFrame, strata: Seq[String], keyCol: String,
      salt: String, partitions: Int = 32,
      precollected: Option[Array[Row]] = None): (DataFrame, Seq[(Vector[Any], Long)]) = {
    val sc = strata.map(col)
    // The decomposition key is a PREFIX of the salted order hash itself:
    // every row whose hash starts with bucket b precedes every row in
    // bucket b' > b under the (hash, key) order, so global stratum rank
    // = (count of earlier buckets) + (rank within bucket) — and because
    // the bucket is a deterministic function of the row (not a sampled
    // physical partition id), the offsets branch and the rank branch
    // agree with NO materialization barrier. The earlier form
    // repartitionByRange'd on the hash and keyed on spark_partition_id,
    // which cost a sampling job + a checkpoint write/read per call —
    // ~0.5 s of fixed overhead at any input size (the round-10
    // symmetric-twin measurement surfaced it). Funnel bound: a window
    // group is stratum/16^chars rows; `partitions` sizes the fan-out
    // (32 → 256 buckets; raise for a mega-stratum at 100 TB).
    val withH = bucketedHash(rows, strata, keyCol, salt, partitions)
    // per-(stratum, bucket) counts: a BOUNDED frame (#strata × 16^chars
    // rows — join-side metadata that broadcast() would collect to the
    // driver anyway), so collect it explicitly ONCE and derive BOTH tiny
    // join sides — earlier-bucket offsets and stratum sizes — from that
    // single job. The round-10 first cut instead materialized
    // (localCheckpoint) the offsets frame so its two broadcast builds
    // would not re-run the corpus pass: a block-persist barrier plus two
    // broadcast-build jobs of ~0.2 s fixed overhead at any input size
    // (the symmetric twins surfaced it). The collect pays the same one
    // corpus pass and zero barriers; the prefix sum over each stratum's
    // ≤ 16^chars bucket counts is driver-side integer addition.
    val spark = rows.sparkSession
    val k = strata.length
    // `precollected` lets a declared query substitute the memoized
    // counts table ([[documentsStratumCounts]]) for the collect job —
    // the caller must have produced it with the SAME (strata, keyCol,
    // salt, partitions), which the cache key enforces
    val counts = precollected.getOrElse(withH.groupBy(sc :+ col("__b"): _*)
      .agg(count(lit(1)).as("__bn")).collect())
    // deterministic local relations: strata groups and buckets in sorted
    // order, so the injected plan (and any cache key over it) is stable
    // run to run regardless of collect order
    val grouped = counts.groupBy(r => Vector.tabulate(k)(r.get))
      .toSeq.sortBy(_._1.map(String.valueOf).mkString("\u0000"))
    // one broadcast relation carries BOTH the bucket offset and the
    // stratum size (the driver computed both), so the main pass pays a
    // single broadcast hash join — the same stage count as the naive
    // single-window plan, minus its hot-stratum funnel
    val offRows = new scala.collection.mutable.ArrayBuffer[Row]
    val sizes = new scala.collection.mutable.ArrayBuffer[(Vector[Any], Long)]
    grouped.foreach { case (sv, rs) =>
      val inB = rs.sortBy(_.getString(k))
      val size = inB.map(_.getLong(k + 1)).sum
      sizes += ((sv, size))
      var acc = 0L
      inB.foreach { r =>
        offRows += Row.fromSeq(r.getString(k) +: sv :+ acc :+ size)
        acc += r.getLong(k + 1)
      }
    }
    // nullable=true regardless of the source schema's claim: a null
    // GROUP value must be representable in the driver-built relation
    val fieldByName =
      withH.schema.fields.map(f => f.name -> f.copy(nullable = true)).toMap
    val strataFields = strata.map(fieldByName)
    val offsets = spark.createDataFrame(offRows.asJava, StructType(
      StructField("__b", StringType, nullable = false) +: strataFields :+
        StructField("__boff", LongType, nullable = false) :+
        StructField("stratum_size", LongType, nullable = false)))
    // NULL-SAFE strata equality (<=>): a USING join would silently drop
    // every row whose stratum value is null — at corpus scale that is a
    // document with missing metadata vanishing from the sample, not an
    // edge case (the same trap bucketedRank's null-bucket join pins)
    val withRk = withH
      .withColumn("__rk", row_number().over(
        Window.partitionBy(sc :+ col("__b"): _*).orderBy(col("__h"), col(keyCol))))
      .alias("__l")
    val off = broadcast(offsets).alias("__r")
    val joinCond = ((col("__l.__b") === col("__r.__b")) +:
      strata.map(s => col(s"__l.$s") <=> col(s"__r.$s"))).reduce(_ && _)
    val ranked = withRk
      .join(off, joinCond)
      .select(col(s"__l.$keyCol").as(keyCol) +:
        strata.map(s => col(s"__l.$s").as(s)) :+
        col("__r.stratum_size").as("stratum_size") :+
        (col("__r.__boff") + col("__l.__rk")).as("rn"): _*)
    (ranked, sizes.toSeq)
  }

  /** Rate and salt for the declared stratified-sample query. */
  val StratifiedRatePermille = 200
  val StratifiedSalt = "strat"

  /** L8i declared query: 200‰ exact-count stratified sample of the corpus
    * by (lang, source). Full per-doc output — rank and keep flag — so the
    * oracle hash pins the entire within-stratum ordering, not just counts.
    */
  def l8StratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    stratifiedSample(t.documents, Seq("lang", "source"), "doc_id",
      StratifiedRatePermille, StratifiedSalt,
      precollected = Some(documentsStratumCounts(spark, dir,
        Seq("lang", "source"), "doc_id", StratifiedSalt)))
      .orderBy(col("doc_id"))
  }

  /** Share of the corpus a temperature mix keeps, and its rank salt. */
  val TemperatureKeepPermille = 500
  val TemperatureSalt = "temp"

  /** TEMPERATURE-based source/language rebalancing (the α-sampling of
    * multilingual LM training, mT5/XLM-R style, here at α = 1/2): a
    * proportional sample keeps big strata big — q_s ∝ n_s — while
    * temperature flattens the distribution toward uniform by sampling
    * stratum s with probability q_s ∝ n_s^α, boosting low-resource
    * strata. With a total budget of K = ⌊N · keepPermille/1000⌋ rows, the
    * per-stratum quota is k_s = min(n_s, ⌈K · √n_s / Σ√n⌉), and the kept
    * rows are the first k_s of the stratum's deterministic salted-md5
    * order ([[stratumRank]] — same distributed prefix-sum rank as
    * [[stratifiedSample]], hot strata spread across range partitions).
    *
    * Exactness: √n of an integer is ONE correctly-rounded IEEE op
    * (identical on any engine — unlike pow, which general α would need),
    * snapped to integer micro-units before any summation, so the quota
    * arithmetic is pure integers. The allocation table is strata-sized
    * (tiny at any corpus scale), computed on the driver from the counts
    * [[stratumRankWithSizes]] already collected (in BigInt, so the
    * K · s_micro product that would exceed 2⁶³ past ~10⁹ docs cannot
    * wrap), and joins in as a broadcast local relation.
    */
  def temperatureMix(rows: DataFrame, stratum: String, keyCol: String,
                     keepPermille: Int, salt: String,
                     partitions: Int = 32,
                     precollected: Option[Array[Row]] = None): DataFrame = {
    require(keepPermille >= 0 && keepPermille <= 1000, s"bad keep: $keepPermille")
    val (ranked, sizes) =
      stratumRankWithSizes(rows, Seq(stratum), keyCol, salt, partitions,
        precollected)
    // the quota table derives from the SAME per-stratum counts the rank
    // decomposition collected — no extra aggregate, no materialization.
    // Driver-side arithmetic replicates the engine expressions it
    // replaces exactly: sqrt is one correctly-rounded IEEE op, the micro
    // snap is Spark round()'s toString-BigDecimal HALF_UP (what DuckDB's
    // ROUND also produced on every oracle-checked value), and the quota
    // ceiling runs in BigInt — so the 2^63 K·s_micro overflow the old
    // in-plan BIGINT form documented as a caveat simply cannot wrap here.
    val sMicro = sizes.map { case (sv, n) =>
      (sv.head, n, BigDecimal(math.sqrt(n.toDouble) * 1e6)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLongExact)
    }
    val totalN = sMicro.iterator.map(_._2).sum
    val totalT = sMicro.iterator.map(x => BigInt(x._3)).sum
    val budget = BigInt(totalN) * keepPermille / 1000
    val allocRows: Seq[Row] = sMicro.map { case (s, n, sm) =>
      val q = ((budget * sm + totalT - 1) / totalT).min(BigInt(n))
      require(q.isValidLong, s"quota $q overflows BIGINT for stratum $s")
      Row(s, q.toLong)
    }
    val stratumField =
      rows.schema.fields.find(_.name == stratum).get.copy(nullable = true)
    val alloc = rows.sparkSession.createDataFrame(allocRows.asJava, StructType(
      Seq(stratumField, StructField("quota", LongType, nullable = false))))
    // null-safe stratum equality: the ranked frame keeps null-stratum
    // rows (stratumRank's <=> offsets join), so the quota join must not
    // silently drop them back out
    ranked.alias("__l")
      .join(broadcast(alloc).alias("__r"),
        col(s"__l.$stratum") <=> col(s"__r.$stratum"))
      .select(col(s"__l.$keyCol").as(keyCol),
        col(s"__l.$stratum").as(stratum), col("__l.stratum_size"),
        col("__l.rn").as("rn"), // BIGINT rank, same 2^31 rationale as stratifiedSample
        col("__r.quota"),
        (col("__l.rn") <= col("__r.quota")).as("sampled"))
  }

  /** L8j declared query: 500‰ temperature mix over `lang` — the fixture's
    * languages are skewed (en ≈ 44 % of docs), so the √-flattened quotas
    * visibly differ from proportional ones and both keep outcomes are
    * exercised per language.
    */
  def l8TemperatureMix(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    temperatureMix(t.documents, "lang", "doc_id",
      TemperatureKeepPermille, TemperatureSalt,
      precollected = Some(documentsStratumCounts(spark, dir,
        Seq("lang"), "doc_id", TemperatureSalt)))
      .orderBy(col("doc_id"))
  }

  /** L0 declared query: the curation RUN — the stages this library exists
    * for, composed end-to-end as ONE declarative plan. (1) Gopher ruleset
    * filter and (2) cross-doc duplicated-span filter gate the raw corpus
    * (both computed corpus-wide, intersected on doc_id); (3) CCNet
    * bucketing re-fits the unigram LM on the SURVIVORS (the reference-LM
    * discipline: score against the distribution you are keeping) and
    * drops the tail; (4) survivors pack into [[PackBudget]]-token bins in
    * doc_id order. Output is the training-data manifest: one row per kept
    * doc with its quality bucket and its bin.
    *
    * Composition is the point: every stage is the SAME operator the
    * standalone queries declare, so Catalyst sees one tree — the gopher
    * pass stays a narrow projection fused into the scan, the two keep
    * sets reach the corpus join as constant-width id frames, and packing
    * adds its prefix-sum exchanges only over the ~halved survivor set.
    */
  def l0Pipeline(spark: SparkSession, dir: String): DataFrame =
    // frame memo (the l6DedupDocs discipline): the pipeline chains a few
    // hundred DataFrame ops over a ~1000-node tree, and Spark's
    // eager-per-op analysis makes CONSTRUCTION alone cost ~0.8 s
    // (driver thread sampled: all resolveOperators/transformDown tree
    // walking) — per invocation, before any action. The declared inputs
    // are the immutable fixture tables, so the built (lazy) frame is a
    // pure function of (session, dir): memoize it and let every
    // invocation re-execute the SAME analyzed plan (execution still
    // computes from parquet + session caches; nothing is keyed on
    // results). The streaming recuration twin feeds differing corpora
    // through l0PipelineFrom directly and is untouched.
    l0FrameCache.getOrElseUpdate(spark, dir) {
      l0PipelineFrom(Tables(spark, dir).documents)
    }

  private val l0FrameCache = new graft.SessionCache[String, DataFrame]

  /** [[l0Pipeline]] over any documents frame — shared by the declared
    * query and the streaming recuration twin
    * ([[graft.streaming.Streams.curationPipelineStream]]), which re-runs
    * these exact stages over its accumulated corpus per commit.
    */
  def l0PipelineFrom(docs: DataFrame): DataFrame = {
    val keepG = TextOps.gopherRules(docs).filter(col("keep")).select("doc_id")
    val keepD = Dedup.dupSpanCoverage(docs).filter(col("keep")).select("doc_id")
    val survivors = docs.join(keepG, "doc_id").join(keepD, "doc_id")
    // pinned ONCE: both the pack branch and the bucket join-back
    // consume it — without this, the join-back would re-execute the
    // whole filter + LM chain (same contract as packBins/stratumRank).
    // persist, not a checkpoint barrier: the declared chain stays
    // rooted at the scan (re-declared runs cache-match); the streaming
    // recuration twin feeds differing accumulated corpora whose
    // entries never re-hit and LRU-evict
    val bucketed = TextOps.ccnetBuckets(survivors)
      .filter(col("bucket") =!= lit("tail"))
      .persist()
    packBins(bucketed, col("n_tokens"), PackBudget, bucket = Some(packBucket))
      .join(bucketed.select(col("doc_id"), col("bucket")), "doc_id")
      .select(col("doc_id"), col("n_tokens"), col("bucket"), col("bin"))
      .orderBy(col("doc_id"))
  }

  /** Context-window chunk length / stride (tokens). Stride < size gives
    * the overlapping windows long-doc training and RAG ingestion use so
    * no boundary context is lost between adjacent chunks.
    */
  val ChunkSize   = 64
  val ChunkStride = 48

  /** L8g: split every document into fixed-token-window chunks with
    * overlap — the step that turns variable-length curated documents
    * into model-context-sized training/retrieval units. Chunk count per
    * doc is `ceil((n - size) / stride) + 1` clamped to ≥ 1: the last
    * window is the first one that reaches the end of the doc (a shorter
    * tail chunk, never a redundant fully-contained one).
    *
    * Scale posture: narrow explode over a per-row integer sequence — the
    * chunker adds zero shuffles to the scan, output rows are
    * `Σ ceil(n_i/stride)` and stream straight to the sink; at 100 TB the
    * chunk explosion is exactly the write amplification the training
    * format requires, not a plan cost.
    */
  def chunkTokens(docs: DataFrame, chunkSize: Int = ChunkSize,
                  stride: Int = ChunkStride,
                  tokenizer: Column => Column = TextOps.spaceTokenizer): DataFrame =
    docs
      .select(col("doc_id"), tokenizer(col("text")).as("t"))
      // greatest(0, …) clamps the single-chunk case (n ≤ size), and does
      // so BEFORE the engines' integer divisions can disagree on negative
      // operands (Spark DIV truncates toward zero, DuckDB // floors)
      .select(col("doc_id"), col("t"), explode(sequence(lit(0),
        expr(s"greatest(0L, (size(t) - $chunkSize + ${stride - 1}) DIV $stride)")))
        .as("chunk_id"))
      // INT is safe here: chunk_id is PER-DOCUMENT (≤ doc tokens /
      // stride), so the cast binds only for a single document beyond
      // ~2³¹ stride windows — orders of magnitude past any real doc
      .select(col("doc_id"), col("chunk_id").cast("int").as("chunk_id"),
        expr(s"slice(t, chunk_id * $stride + 1, $chunkSize)").as("ct"))
      .select(col("doc_id"), col("chunk_id"),
        size(col("ct")).as("n_tokens"),
        array_join(col("ct"), " ").as("chunk_text"))

  /** L8g declared query: the fixture corpus chunked at
    * [[ChunkSize]]/[[ChunkStride]].
    */
  def l8Chunk(spark: SparkSession, dir: String): DataFrame =
    chunkTokens(Tables(spark, dir).documents)
      .orderBy(col("doc_id"), col("chunk_id"))

  /** Per-cluster UNBIASED representative sampling — the "soft dedup" step
    * after near-dup clustering: keep `k` members of every near-dup
    * cluster, chosen by a seeded hash rank instead of min-doc_id (min-id
    * systematically favours the oldest copy; the hash rank picks a
    * uniformly pseudo-random member, the FineWeb/RedPajama-style choice),
    * deterministically and with exact replay on any engine.
    *
    * `labels` is a (doc_id, cluster_rep) frame ([[Dedup.clusterCollapse]]
    * output). One window shuffle on cluster_rep (near-dup clusters are
    * small — the hot-cluster ceiling is the corpus' duplication factor,
    * not corpus size) plus a broadcast-size count join.
    */
  def clusterSample(labels: DataFrame, k: Int, seed: String): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val w = Window.partitionBy(col("cluster_rep"))
      .orderBy(md5(concat(lit(s"$seed|"), col("doc_id").cast("string"))), col("doc_id"))
    val sizes = labels.groupBy(col("cluster_rep"))
      .agg(count(lit(1)).as("cluster_size"))
    labels
      .join(sizes, "cluster_rep")
      .withColumn("__rk", row_number().over(w))
      .select(col("doc_id"), col("cluster_rep"), col("cluster_size"),
        (col("__rk") <= k).as("sampled"))
  }

  /** Fixed seed for the declared query (shared with the oracle builder). */
  val ClusterSampleSeed = "clsample"

  /** L8h declared query: one hash-chosen representative per near-dup
    * cluster of the [[Dedup.l6DedupDocs]] clustering.
    */
  def l8ClusterSample(spark: SparkSession, dir: String): DataFrame =
    clusterSample(
      Dedup.l6DedupDocs(spark, dir).select(col("doc_id"), col("cluster_rep")),
      k = 1, seed = ClusterSampleSeed)
      .orderBy(col("doc_id"))
}
