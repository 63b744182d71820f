package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** [[PageRank]]: the pinned recurrence on a hand graph (replicated in
  * plain Scala), dangling semantics, edge-derivation determinism, and
  * the CC-style materialization hygiene. */
class PageRankSpec extends SparkSpec {
  import spark.implicits._

  test("ranks match the recurrence computed in plain Scala") {
    // star into b plus a back-edge: a→b, c→b, b→a (c dangling-free,
    // b's mass cycles back to a, c never receives — every term of the
    // recurrence is exercised, including the dangling loss via c)
    val edges = Seq((1L, 2L), (3L, 2L), (2L, 1L)).toDF("s", "d")
    val got = PageRank.pageRank(edges, "s", "d", iterations = 4)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

    // plain-Scala replica of the same recurrence
    val n = 3.0
    val dmp = 0.85
    var r = Map(1L -> 1 / n, 2L -> 1 / n, 3L -> 1 / n)
    for (_ <- 1 to 4) {
      val inc = Map(
        1L -> r(2L) / 1.0,            // b→a, outdeg(b)=1
        2L -> (r(1L) / 1.0 + r(3L) / 1.0)) // a→b, c→b
      r = Seq(1L, 2L, 3L).map(id =>
        id -> ((1.0 - dmp) / n + dmp * inc.getOrElse(id, 0.0))).toMap
    }
    assert(got.keySet == Set(1L, 2L, 3L), got)
    got.foreach { case (id, v) =>
      assert(math.abs(v - r(id)) < 1e-12, s"node $id: got $v want ${r(id)}")
    }
    // c is a pure source: floor rank only
    assert(math.abs(got(3L) - 0.15 / 3) < 1e-12, got)
  }

  test("coOrderEdges: deterministic under duplicate line numbers, no self-loops") {
    val li = Seq(
      // order 1: duplicate linenumber 1 — the fixture's real hazard;
      // (linenumber, partkey) order makes the sequence 5,7,9
      (1L, 1, 7L), (1L, 1, 5L), (1L, 2, 9L),
      // order 2: consecutive same part → self-loop, dropped
      (2L, 1, 4L), (2L, 2, 4L)
    ).toDF("l_orderkey", "l_linenumber", "l_partkey")
    val got = PageRank.coOrderEdges(li)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((5L, 7L), (7L, 9L)), got)
  }

  test("pageRank retains no blocks and returns a re-joinable scan") {
    val edges = (1L to 30L).map(i => (i, i % 30 + 1)).toDF("s", "d")
    val ranks = PageRank.pageRank(edges, "s", "d", iterations = 3)
    assert(ranks.count() == 30)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      s"retained: ${spark.sparkContext.getPersistentRDDs.values.map(_.name)}")
    // 30-cycle is rank-uniform: every node exactly 1/30
    val vals = ranks.select("r").collect().map(_.getDouble(0))
    vals.foreach(v => assert(math.abs(v - 1.0 / 30) < 1e-12, v))
  }

  test("triangleCounts: K4 plus a tail, canonicalized from messy directed input") {
    import spark.implicits._
    // K4 on {1,2,3,4} (4 triangles, each node in 3) + tail 4-5 (node
    // 5 in none) — fed as DIRECTED edges with duplicates, reversed
    // copies, and a self-loop, all of which must canonicalize away
    val k4 = for {
      a <- 1L to 4L; b <- 1L to 4L if a != b
    } yield (a, b) // both directions = built-in reversal/duplication
    val messy = (k4 ++ Seq((4L, 5L), (5L, 4L), (4L, 5L), (3L, 3L)))
      .toDF("s", "d")
    val got = PageRank.triangleCounts(messy, "s", "d")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L, 5L -> 0L),
      got.toString)
    // total triangles = sum(corners)/3 = 4
    assert(got.values.sum == 12L)
  }

  test("triangleCountsAppend: fold ≡ from-scratch; replay no-ops; torn state fails loud") {
    import spark.implicits._
    val store = new ParquetTableStore(tmpDir("tri-append"))
    // K4 on {1,2,3,4} + tail 4-5, split so the fold exercises all
    // three cases: batch 1 = {1-2, 1-3, 2-3, 3-4} (one triangle);
    // batch 2 = {1-4, 2-4, 4-5}: 1-4 closes {1,3,4} via two stored
    // edges (case 1); {1,2,4} needs both new edges 1-4, 2-4 + stored
    // 1-2 (case 2); 4-5 adds node 5 with no triangles. A reversed
    // duplicate of a stored edge rides along — the anti-join must
    // absorb it.
    val b1 = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)).toDF("s", "d")
    val b2 = Seq((1L, 4L), (2L, 4L), (4L, 5L), (2L, 1L)).toDF("s", "d")
    val first = PageRank.triangleCountsAppend(b1, "s", "d", store)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(first == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 0L), first)
    val folded = PageRank.triangleCountsAppend(b2, "s", "d", store)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val scratch = PageRank.triangleCounts(
      b1.unionByName(b2), "s", "d")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(folded == scratch, s"folded=$folded scratch=$scratch")
    assert(folded == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L, 5L -> 0L))
    // a REPLAYED delta finds every edge already stored: zero
    // increments, identical counts (the idempotence contract)
    val replayed = PageRank.triangleCountsAppend(b2, "s", "d", store)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(replayed == folded, replayed)
    // torn state (a fold crashed between the edges and meta commits):
    // the next fold must fail LOUDLY, not double-count
    store.upsertBucketed(spark, "tri_edges",
      Seq((9L, 10L)).toDF("u", "v"), Seq("u", "v"))
    val e = intercept[IllegalStateException] {
      PageRank.triangleCountsAppend(
        Seq((5L, 6L)).toDF("s", "d"), "s", "d", store)
    }
    assert(e.getMessage.contains("stale"), e.getMessage)
  }

  test("triangleCountsAppend: a racing fold loses its pinned CAS before any count mutates") {
    import spark.implicits._
    import java.nio.file.Path
    val root = tmpDir("tri-race")
    val plain = new ParquetTableStore(root)
    // seed: a path 1-2-3 (no triangles yet)
    PageRank.triangleCountsAppend(
      Seq((1L, 2L), (2L, 3L)).toDF("s", "d"), "s", "d", plain)
    // Fold B (edge 1-3, would close {1,2,3}) races fold C (edge 2-4):
    // both derive from the SAME stored snapshot. The harness lets C
    // land a REAL complete fold inside B's first CAS — B's edges
    // commit is pinned to the pre-C pointer, so B must throw before
    // it touches the counts table (the double-count window the
    // unpinned commits had: both folds' count increments landing).
    var armed = true
    var competitorRan = false
    val racingIo: StoreIo = new StoreIo {
      override def swapPointer(p: Path, c: String): Unit =
        PosixStoreIo.swapPointer(p, c)
      override def shareFile(s: Path, d: Path): Unit =
        PosixStoreIo.shareFile(s, d)
      override def deletePointerIfCurrent(p: Path, e: String): Unit =
        PosixStoreIo.deletePointerIfCurrent(p, e)
      override def swapPointerIfCurrent(p: Path, c: String,
          exp: Option[String]): Unit = {
        if (armed && p.getParent.getFileName.toString == "tri_edges") {
          armed = false
          PageRank.triangleCountsAppend(
            Seq((2L, 4L)).toDF("s", "d"), "s", "d", plain)
          competitorRan = true
        }
        PosixStoreIo.swapPointerIfCurrent(p, c, exp)
      }
    }
    val storeB = new ParquetTableStore(root, io = racingIo)
    intercept[ConcurrentCommitException] {
      PageRank.triangleCountsAppend(
        Seq((1L, 3L)).toDF("s", "d"), "s", "d", storeB)
    }
    assert(competitorRan)
    // the loser mutated NOTHING: counts/meta reflect exactly the
    // winner's fold, and the caller's retry (re-invoking the fold)
    // lands B over the winner's state
    val afterRace = plain.read(spark, "tri_counts")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(afterRace == Map(1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 0L),
      afterRace)
    val retried = PageRank.triangleCountsAppend(
      Seq((1L, 3L)).toDF("s", "d"), "s", "d", plain)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val scratch = PageRank.triangleCounts(
      Seq((1L, 2L), (2L, 3L), (2L, 4L), (1L, 3L)).toDF("s", "d"), "s", "d")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(retried == scratch, s"retried=$retried scratch=$scratch")
  }

  // ---- incremental PageRank (g4: build → warm-started fold) ----

  private def ranksOf(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  test("pageRankAppend: warm-started fold follows the unrolled two-batch recurrence") {
    // chain 1→2→3 built first; fold appends 3→1 (closing the cycle)
    // and node 4 via 1→4
    val root = Scratch.tempDir("pr-append-")
    val store = new ParquetTableStore(s"$root/store")
    PageRank.pageRankAppend(Seq((1L, 2L), (2L, 3L)).toDF("s", "d"),
      "s", "d", store, iterations = 2)
    val got = ranksOf(PageRank.pageRankAppend(
      Seq((3L, 1L), (1L, 4L)).toDF("s", "d"), "s", "d", store,
      iterations = 2))

    // plain-Scala replica: 2 rounds over {1→2,2→3} from uniform(3),
    // rescale by 3/4 (node 4 joins at 1/4), 2 rounds over all edges
    val dmp = 0.85
    def step(n: Double, out: Map[Long, Seq[Long]],
        r: Map[Long, Double]): Map[Long, Double] = {
      val inc = out.toSeq.flatMap { case (s, ds) =>
        ds.map(d => d -> r(s) / ds.size) }
        .groupBy(_._1).map { case (d, xs) => d -> xs.map(_._2).sum }
      r.keys.map(id =>
        id -> ((1.0 - dmp) / n + dmp * inc.getOrElse(id, 0.0))).toMap
    }
    var r1 = Map(1L -> 1 / 3.0, 2L -> 1 / 3.0, 3L -> 1 / 3.0)
    val out1 = Map(1L -> Seq(2L), 2L -> Seq(3L))
    r1 = step(3.0, out1, r1); r1 = step(3.0, out1, r1)
    val scale = 3.0 / 4.0
    var r2 = Map(1L -> r1(1L) * scale, 2L -> r1(2L) * scale,
      3L -> r1(3L) * scale, 4L -> 1 / 4.0)
    val out2 = Map(1L -> Seq(2L, 4L), 2L -> Seq(3L), 3L -> Seq(1L))
    r2 = step(4.0, out2, r2); r2 = step(4.0, out2, r2)
    assert(got.keySet == r2.keySet)
    got.foreach { case (id, v) =>
      assert(math.abs(v - r2(id)) < 1e-12, s"node $id: $v vs ${r2(id)}") }
  }

  test("pageRankAppend: replayed delta is a no-op; torn meta refuses loudly") {
    val root = Scratch.tempDir("pr-replay-")
    val store = new ParquetTableStore(s"$root/store")
    PageRank.pageRankAppend(Seq((1L, 2L), (2L, 3L)).toDF("s", "d"),
      "s", "d", store, iterations = 2)
    val v0 = store.currentVersion("pr_ranks").get
    val before = ranksOf(store.read(spark, "pr_ranks"))
    // replay: every edge anti-joins away → stored ranks returned,
    // nothing committed
    val replay = ranksOf(PageRank.pageRankAppend(
      Seq((1L, 2L)).toDF("s", "d"), "s", "d", store, iterations = 2))
    assert(replay == before)
    assert(store.currentVersion("pr_ranks").get == v0)
    // torn state: advance edges past the meta pin → loud refusal
    store.upsertBucketed(spark, "pr_edges",
      Seq((7L, 8L)).toDF("src", "dst"), Seq("src", "dst"))
    val ex = intercept[IllegalStateException] {
      PageRank.pageRankAppend(Seq((8L, 9L)).toDF("s", "d"),
        "s", "d", store, iterations = 2)
    }
    assert(ex.getMessage.contains("stale"))
  }

  test("pageRankAppend: a first build overtaken by a complete racing build fails its meta create") {
    import java.util.concurrent.TimeUnit
    val root = Scratch.tempDir("pr-first-race-")
    val store = new ParquetTableStore(s"$root/store")
    // B passes its existence check (nothing stored), then parks on its
    // first evaluated row while C runs a COMPLETE first build; B then
    // resumes its loop and publishes onto C's three tables
    val gate = udf { (x: Long) =>
      if (FirstBuildGate.armed.compareAndSet(true, false)) {
        FirstBuildGate.reached.countDown()
        FirstBuildGate.released.await(120, TimeUnit.SECONDS)
      }
      x
    }
    @volatile var competitorErr: Throwable = null
    val competitor = new Thread(() => {
      try {
        assert(FirstBuildGate.reached.await(120, TimeUnit.SECONDS))
        PageRank.pageRankAppend(Seq((1L, 2L), (2L, 3L)).toDF("s", "d"),
          "s", "d", new ParquetTableStore(s"$root/store"), iterations = 2)
      } catch { case t: Throwable => competitorErr = t }
      finally FirstBuildGate.released.countDown()
    })
    FirstBuildGate.armed.set(true)
    competitor.start()
    try {
      // B's meta create expects absence, so C's meta row makes it fail
      // even though B's edges and ranks publishes landed on C's
      intercept[ConcurrentCommitException] {
        PageRank.pageRankAppend(
          Seq((3L, 4L)).toDF("s", "d").withColumn("s", gate(col("s"))),
          "s", "d", store, iterations = 2)
      }
    } finally competitor.join(120000)
    assert(competitorErr == null, String.valueOf(competitorErr))
    assert(!FirstBuildGate.armed.get)
    // C's meta row survives, naming an edges version B has moved past:
    // the next fold refuses loudly instead of folding onto B's ranks
    assert(store.read(spark, "pr_meta").head.getAs[Long]("edges_version") <
      store.currentVersion("pr_edges").get)
    val ex = intercept[IllegalStateException] {
      PageRank.pageRankAppend(Seq((8L, 9L)).toDF("s", "d"),
        "s", "d", store, iterations = 2)
    }
    assert(ex.getMessage.contains("stale"))
  }

  test("pageRankAppend: warm start reaches the same tol in fewer rounds than cold") {
    // power iteration contracts by ~damping per round regardless of
    // start; the warm win is the INITIAL distance — a small delta
    // leaves the old fixpoint near the new one, so the same residual
    // target needs fewer rounds. meta.iters makes both counts
    // observable.
    val all = (1L to 40L).map(i => (i, i % 40 + 1)) ++
      Seq((1L, 20L), (5L, 30L), (10L, 35L))
    val delta = Seq((7L, 25L), (13L, 31L))
    val tol = 1e-8
    // cold: everything in one build at tol
    val rootC = Scratch.tempDir("pr-conv-c-")
    val storeC = new ParquetTableStore(s"$rootC/store")
    val cold = ranksOf(PageRank.pageRankAppend((all ++ delta).toDF("s", "d"),
      "s", "d", storeC, iterations = 300, tol = tol))
    val itersCold = storeC.read(spark, "pr_meta").head.getAs[Int]("iters")
    // warm: build the base, fold the delta at the same tol
    val rootW = Scratch.tempDir("pr-conv-w-")
    val storeW = new ParquetTableStore(s"$rootW/store")
    PageRank.pageRankAppend(all.toDF("s", "d"), "s", "d", storeW,
      iterations = 300, tol = tol)
    val warm = ranksOf(PageRank.pageRankAppend(delta.toDF("s", "d"),
      "s", "d", storeW, iterations = 300, tol = tol))
    val itersWarm = storeW.read(spark, "pr_meta").head.getAs[Int]("iters")
    assert(itersWarm < itersCold,
      s"warm fold ran $itersWarm rounds vs cold $itersCold")
    assert(itersCold < 300 && itersWarm < 300, "neither side may cap out")
    // both stopped at residual < tol → both within d/(1-d)·tol ≈
    // 5.7e-8 of the SAME fixpoint
    assert(warm.keySet == cold.keySet)
    warm.foreach { case (id, v) =>
      assert(math.abs(v - cold(id)) < 2e-7, s"node $id: $v vs ${cold(id)}") }
  }
}

/** Park point for the first-build race spec: the first row the racing
  * build evaluates waits here until the competitor's build has landed.
  * A singleton, so the row function's closure captures no latch. */
private object FirstBuildGate {
  val armed = new java.util.concurrent.atomic.AtomicBoolean(false)
  val reached = new java.util.concurrent.CountDownLatch(1)
  val released = new java.util.concurrent.CountDownLatch(1)
}
