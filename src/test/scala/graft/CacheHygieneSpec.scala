package graft

import org.apache.spark.sql.functions._

import graft.llm._

/** Pins the no-session-cache contract: operators must not leave persistent
  * RDDs behind after their terminal action. The four operators here formerly
  * persisted an intermediate with no unpersist path — one MEMORY_AND_DISK
  * cache leaked per call for the session lifetime. They now use either a
  * shared shuffle boundary (exchange reuse within the action; minhash,
  * simhash) or a single-pass shape that needs no sharing at all (cosine
  * near-dup, repetition metrics). `dedupGroups` is the documented exception:
  * its result is persisted BY CONTRACT (the convergence loop materializes
  * per round) and the caller owns the unpersist.
  */
class CacheHygieneSpec extends SparkSuite {
  init()
  import spark.implicits._

  /** Runs `body`, returns ids of persistent RDDs it left behind (robust to
    * caches pre-existing from other suites sharing the session). */
  private def newCaches(body: => Unit): Set[Int] = {
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    body
    spark.sparkContext.getPersistentRDDs.keySet.toSet.diff(before)
  }

  private lazy val docs = Tables.t(spark, sfDir, "documents")
  private lazy val emb = Tables.t(spark, sfDir, "embeddings")

  test("minhashCandidatePairs leaves no session cache") {
    assert(newCaches {
      TextDedup.minhashCandidatePairs(docs, "doc_id", "text", bands = 32).count()
    }.isEmpty)
  }

  test("simhashCandidatePairs leaves no session cache") {
    assert(newCaches {
      TextDedup.simhashCandidatePairs(docs, "doc_id", "text").count()
    }.isEmpty)
  }

  test("cosineNearDupPairs leaves no session cache") {
    assert(newCaches {
      Similarity.cosineNearDupPairs(emb, threshold = 0.3).count()
    }.isEmpty)
  }

  test("repetitionMetrics leaves no session cache") {
    assert(newCaches {
      TextStats.repetitionMetrics(docs, "doc_id", "text").count()
    }.isEmpty)
  }

  test("dedupGroups result is persisted, caller-owned, and unpersistable") {
    val pairs = Seq((0L, 1L), (1L, 2L), (5L, 6L)).toDF("id_a", "id_b")
    val ids = (0L to 9L).toDF("id")
    var labels: org.apache.spark.sql.DataFrame = null
    val left = newCaches { labels = TextDedup.dedupGroups(pairs, ids) }
    // exactly the returned frame's cache remains — intermediates are cleaned
    assert(left.size == 1)
    assert(labels.storageLevel.useMemory || labels.storageLevel.useDisk)
    labels.unpersist(blocking = true)
    assert(spark.sparkContext.getPersistentRDDs.keySet.toSet
      .intersect(left).isEmpty)
  }

  test("kendall (both plans) leaves no session cache") {
    import graft.ops.Advanced
    val df = spark.range(0, 2000).selectExpr(
      "CAST(id % 37 AS DOUBLE) AS a", "CAST(id % 11 AS DOUBLE) AS b")
    assert(newCaches {
      Advanced.kendallCorrelationTable(df, Seq("a", "b")).count()
    }.isEmpty)
    assert(newCaches {
      Advanced.kendallCorrelationTable(df, Seq("a", "b"), maxRows = 0L).count()
    }.isEmpty)
  }

  test("linearRecurrence keyless cleanup thunk releases its cache") {
    import graft.ops.Advanced
    val df = spark.range(0, 1000).selectExpr("id", "CAST(id % 9 AS DOUBLE) AS x")
    var clean: () => Unit = null
    val left = newCaches {
      val (out, c) = Advanced.linearRecurrence(df, Seq("id"), "x", 0.5, "s")
      clean = c
      out.count()
    }
    // the sorted input stays cached until the caller's thunk runs
    assert(left.size == 1)
    clean()
    assert(spark.sparkContext.getPersistentRDDs.keySet.toSet
      .intersect(left).isEmpty)
  }

  /** Runs `op` on its driver leg (default limit), hybrid leg
    * (`hybridLimit`) and sort-merge leg (limit 0): the driver and hybrid
    * legs leave no cache, persistent RDD or broadcast, the sort-merge leg
    * only the result's own checkpoint, and every leg gives the same rows. */
  private def legsLeaveNoCache(hybridLimit: Long)(
      op: => org.apache.spark.sql.DataFrame): Unit = {
    import org.apache.spark.BroadcastProbe
    val local = rowSet(op)
    for (limit <- Seq(None, Some(hybridLimit), Some(0L))) {
      spark.catalog.clearCache()
      val held = BroadcastProbe.heldValues(spark.sparkContext)
      var out: org.apache.spark.sql.DataFrame = null
      val left = newCaches { out = limit.fold(op)(atDriverRowLimit(_)(op)) }
      assert(spark.sharedState.cacheManager.isEmpty, s"limit=$limit")
      if (!limit.contains(0L)) {
        // the result is built from driver arrays: the adjacency cache is
        // released, and every broadcast is destroyed (its removal from
        // the block manager is asynchronous)
        assert(left.isEmpty, s"limit=$limit left=$left")
        def extra = BroadcastProbe.heldValues(spark.sparkContext) -- held
        val deadline = System.nanoTime() + 30L * 1000000000L
        while (extra.nonEmpty && System.nanoTime() < deadline) Thread.sleep(10)
        assert(extra.isEmpty, s"limit=$limit broadcasts left: $extra")
      } else {
        // the result's own checkpoint is all that stays; every round's
        // checkpoint, the edge cache and the adjacencies are released
        assert(left.size == 1, s"limit=$limit left=$left")
      }
      assert(rowSet(out) == local, s"limit=$limit")
    }
  }

  test("labelPropagation: the driver and hybrid legs leave no cache, " +
    "persistent RDD or broadcast; the sort-merge leg only the result") {
    val sym = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L), (2L, 5L))
      .flatMap(e => Seq(e, e.swap)).toDF("s", "t")
    // 5 nodes, 10 edge rows: the default limit runs the driver leg, 5 the
    // hybrid leg, 0 sort-merges
    legsLeaveNoCache(5L)(graft.ops.Graph.labelPropagation(sym, "s", "t",
      iters = 3, assumeSymmetric = true))
  }

  test("pageRank: the driver and hybrid legs leave no cache, persistent " +
    "RDD or broadcast; the sort-merge leg only the result") {
    // 5 nodes, 7 edges, node 5 dangling: the default limit runs the
    // driver leg, 5 the hybrid leg, 0 sort-merges
    val g = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 3L), (2L, 5L), (1L, 4L),
      (3L, 4L)).toDF("s", "t")
    legsLeaveNoCache(5L)(graft.ops.Graph.pageRank(g, "s", "t", iters = 3))
  }
}
