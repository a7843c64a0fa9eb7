package graft

import graft.operators.{Dedup, Profile, Similarity, TextOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** The one memo lifecycle: [[SessionCache.clear]] drops every session
  * memo in the engine and releases the blocks the memoized frames
  * pinned, and [[Registry.sharedBuilds]] names every build memo.
  */
class SessionCacheSpec extends SparkSuite {

  private def rows(df: DataFrame): List[String] =
    df.collect().map(_.toSeq.mkString("|")).sorted.toList

  private def checkpointIds(df: DataFrame): Seq[Int] =
    df.queryExecution.logical.collect { case r: LogicalRDD => r.rdd.id }

  test("invalidateSessionCaches rebuilds the l3_ivf_topk frame memo and the PQ book rows") {
    val ivf = SparkEntry.queries("l3_ivf_topk")
    val frame = ivf(spark, sf)
    val want = rows(frame)
    assert(ivf(spark, sf) eq frame, "frame memo must hit before the clear")
    val books = Similarity.collectedPqBooks(tables)
    assert(Similarity.collectedPqBooks(tables) eq books)
    Similarity.invalidateSessionCaches()
    // the old frame was planned on centroids the clear dropped
    val rebuilt = ivf(spark, sf)
    assert(!(rebuilt eq frame), "cleared memo must not serve the old frame")
    assert(rows(rebuilt) == want)
    val rebooks = Similarity.collectedPqBooks(tables)
    assert(!(rebooks eq books), "cleared memo must not serve the old book rows")
    assert(rebooks == books)
  }

  test("clear() unpersists every checkpoint the builds pinned; a rebuild returns the same rows") {
    def built(): Seq[DataFrame] = {
      val (merges, syms) = TextOps.defaultBpeTrain(spark, sf)
      val parts = Dedup.defaultSimJoinParts(spark, sf)
      Seq(Similarity.defaultCentroids(spark, sf), Similarity.defaultPqBooks(tables),
        TextOps.defaultBm25(spark, sf), TextOps.defaultNbScored(spark, sf),
        Profile.s7Profile(spark, sf), Profile.s7ProfileApprox(spark, sf),
        Dedup.l6DedupDocs(spark, sf), merges, syms, parts.reps, parts.repPairs,
        parts.members)
    }
    val frames = built()
    val want = frames.map(rows)
    val ids = frames.flatMap(checkpointIds)
    assert(ids.size >= frames.size, s"every build is checkpointed: $ids")
    val pinned = spark.sparkContext.getPersistentRDDs
    assert(ids.forall(pinned.contains), "builds pin their checkpoints")
    SessionCache.clear()
    val left = spark.sparkContext.getPersistentRDDs
    assert(ids.filter(left.contains).isEmpty, "clear() must unpersist every build checkpoint")
    assert(SessionCache.entries.isEmpty)
    val again = built()
    assert(again.flatMap(checkpointIds).intersect(ids).isEmpty, "rebuilt, not reused")
    assert(again.map(rows) == want)
  }

  test("the shared-build list names every (session, dir)-keyed build memo") {
    // a build memo holds a checkpointed frame keyed by the corpus dir
    // (or a tuple led by it)
    def checkpointed(v: Any): Boolean = v match {
      case df: org.apache.spark.sql.Dataset[_] => df.queryExecution.logical.isInstanceOf[LogicalRDD]
      case p: Product => p.productIterator.exists(checkpointed)
      case _ => false
    }
    def dirKeyed(k: Any): Boolean = k match {
      case p: Product => p.productArity > 0 && p.productElement(0) == sf
      case _ => k == sf
    }
    def buildMemos(): Set[SessionCache[_, _]] = SessionCache.entries.collect {
      case (c, s, k, v) if (s eq spark) && dirKeyed(k) && checkpointed(v) => c
    }.toSet

    SessionCache.clear()
    val perBuild = Registry.sharedBuilds.map { case (name, build) =>
      val before = SessionCache.entries.map(_._1).toSet
      build(spark, sf)
      name -> (SessionCache.entries.map(_._1).toSet -- before)
    }
    perBuild.foreach { case (name, filled) => assert(filled.nonEmpty, s"$name fills no memo") }
    val listed = buildMemos()

    // every declared query's construction reads the builds it needs
    SessionCache.clear()
    SparkEntry.queries.foreach { case (_, q) => q(spark, sf) }
    val used = buildMemos()
    assert(used.nonEmpty)
    assert(used.subsetOf(listed),
      s"${(used -- listed).size} build memo(s) no shared build fills")
    SessionCache.clear()
  }
}
