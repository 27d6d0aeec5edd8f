package graft

import graft.dedup.Components

class ComponentsSpec extends SparkSpec {
  import spark.implicits._

  test("long chain collapses to one component (multi-round)") {
    // 0-1-2-...-19: diameter 19 forces the alternating algorithm
    // through >1 large/small-star round before the star fixpoint.
    val chain = (0L until 19L).map(i => (i, i + 1)).toDF("a", "b")
    val (labels, rounds) = Components.connectedComponents(chain, "a", "b")
    assert(rounds > 1, s"chain of diameter 19 converged in $rounds round")
    val got = labels.as[(Long, Long)].collect().toMap
    assert(got == (0L to 19L).map(_ -> 0L).toMap)
  }

  test("concurrent rotating loops stay correct (handle-owned rotation)") {
    // Two multi-round CC queries on separate threads: each rotation
    // releases only the checkpoint RDD it created, so neither can
    // release the other's round snapshot. Both must converge to the
    // exact labelling.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    def run(offset: Long) = Future {
      val chain = (0L until 25L).map(i => (offset + i, offset + i + 1))
        .toDF("a", "b")
      Components.connectedComponents(chain, "a", "b")._1
        .as[(Long, Long)].collect().toMap
    }
    val (r1, r2) = (run(0L), run(1000L))
    assert(Await.result(r1, 120.seconds) == (0L to 25L).map(_ -> 0L).toMap)
    assert(Await.result(r2, 120.seconds) ==
      (1000L to 1025L).map(_ -> 1000L).toMap)
  }

  test("multiple components, canonical pick, duplicate/reversed pairs") {
    val pairs = Seq(
      (5L, 3L), (3L, 9L), (9L, 5L), // triangle {3,5,9}
      (7L, 8L), (8L, 7L),           // reversed duplicate {7,8}
      (11L, 11L),                   // self pair: ignored entirely
      (20L, 21L), (21L, 22L)        // path {20,21,22}
    ).toDF("a", "b")
    val out = Components.dupComponents(pairs, "a", "b")
      .as[(Long, Long, Boolean)].collect().toSet
    assert(out == Set(
      (3L, 3L, true), (5L, 3L, false), (9L, 3L, false),
      (7L, 7L, true), (8L, 7L, false),
      (20L, 20L, true), (21L, 20L, false), (22L, 20L, false)))
  }

  test("superseded round checkpoints are released (bounded persistence)") {
    // Before the fix, every round's localCheckpoint stayed persisted —
    // rounds+1 retained edge-set copies, a scale-killer on a 10^11-edge
    // graph. The multi-round chain (diameter 39 → >1 round) must leave
    // only the FINAL fixpoint checkpoint behind, regardless of rounds.
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    val chain = (0L until 39L).map(i => (i, i + 1)).toDF("a", "b")
    val (labels, rounds) = Components.connectedComponents(chain, "a", "b")
    assert(rounds > 1)
    val retained = spark.sparkContext.getPersistentRDDs.size
    assert(retained <= 1,
      s"$retained checkpoints retained after $rounds rounds (expected ≤ 1: the fixpoint)")
    // and the labelling built on the surviving checkpoint is intact
    assert(labels.as[(Long, Long)].collect().toMap ==
      (0L to 39L).map(_ -> 0L).toMap)
  }

  test("a rotating loop releases only its own snapshots under foreign checkpoints") {
    // Another thread issues eager checkpoints of its own while the
    // multi-round loop rotates. The loop owns each round through that
    // checkpoint's RDD handle, so every foreign checkpoint must still
    // be persisted afterwards, and of the loop's own snapshots at most
    // the fixpoint is retained.
    import graft.ops.CheckpointRotation.Ops
    import org.apache.spark.sql.execution.LogicalRDD
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    def rddId(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.logical match { case l: LogicalRDD => l.rdd.id }
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    val looping = new java.util.concurrent.atomic.AtomicBoolean(true)
    val firstForeign = new java.util.concurrent.CountDownLatch(1)
    // the foreign frames stay referenced, as a live query's would: an
    // unreachable checkpoint is fair game for the context cleaner
    val foreign = Future {
      val frames = Seq.newBuilder[org.apache.spark.sql.DataFrame]
      var n = 0
      while (looping.get || n < 3) {
        frames += spark.range(0, 1000, 1, 2)
          .selectExpr(s"id % ${n + 2} AS k").lockedCheckpoint()
        firstForeign.countDown()
        n += 1
      }
      frames.result()
    }
    assert(firstForeign.await(120, java.util.concurrent.TimeUnit.SECONDS))
    val chain = (0L until 39L).map(i => (i, i + 1)).toDF("a", "b")
    val (labels, rounds) =
      try Components.connectedComponents(chain, "a", "b")
      finally looping.set(false)
    val foreignFrames = Await.result(foreign, 120.seconds)
    val foreignIds = foreignFrames.map(rddId).toSet
    assert(rounds > 1)
    assert(labels.as[(Long, Long)].collect().toMap ==
      (0L to 39L).map(_ -> 0L).toMap)
    val persisted = spark.sparkContext.getPersistentRDDs.keySet.toSet
    assert(foreignIds.subsetOf(persisted),
      s"foreign checkpoints released: ${foreignIds -- persisted}")
    val own = persisted -- foreignIds
    assert(own.size <= 1,
      s"${own.size} loop snapshots retained after $rounds rounds (expected ≤ 1: the fixpoint)")
    assert(foreignFrames.head.count() == 1000)
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
  }

  test("lockedCheckpoint: a bare LocalRelation passes through with no job, anything else becomes a LogicalRDD leaf") {
    import graft.ops.CheckpointRotation.Ops
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.execution.LogicalRDD
    val sc = spark.sparkContext
    val local = Seq((1L, 2L), (3L, 4L)).toDF()
    assert(local.queryExecution.logical.isInstanceOf[LocalRelation])
    // job starts in bus order; a marker job after the call proves none
    // ran before it
    val started = new java.util.concurrent.LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = started.put(
        Option(j.properties).flatMap(p => Option(p.getProperty("graft.spec.marker")))
          .getOrElse("unmarked"))
    }
    sc.addSparkListener(listener)
    try {
      assert(local.lockedCheckpoint() eq local)
      sc.setLocalProperty("graft.spec.marker", "marker")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty("graft.spec.marker", null)
      assert(started.poll(60, java.util.concurrent.TimeUnit.SECONDS) == "marker",
        "a job ran inside lockedCheckpoint() on a bare LocalRelation")
    } finally sc.removeSparkListener(listener)

    val ck = local.select(($"_1" + $"_2").as("s")).lockedCheckpoint()
    ck.queryExecution.logical match {
      case l: LogicalRDD =>
        assert(ck.as[Long].collect().sorted.toSeq == Seq(3L, 7L))
        assert(sc.getPersistentRDDs.contains(l.rdd.id),
          "the LogicalRDD leaf is not the persisted checkpoint")
        l.rdd.unpersist(blocking = true)
      case p => fail(s"expected a LogicalRDD leaf, got ${p.nodeName}")
    }
  }

  test("empty pair list yields empty labelling") {
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    val (labels, _) = Components.connectedComponents(empty, "a", "b")
    assert(labels.isEmpty)
  }

  test("keepBest retains the highest score, ties to the lowest id") {
    val labels = Seq((1L, 1L), (4L, 1L), (7L, 1L), // component 1
      (2L, 2L), (9L, 2L)) // component 2
      .toDF("id", "component_id")
    val scored = Seq((1L, 0.5), (4L, 0.9), (7L, 0.9), // tie at 0.9 → 4
      (2L, 0.3), (9L, 0.8)) // clear best → 9
      .toDF("id", "quality")
    val out = Components.keepBest(labels, scored, "id", "component_id", "quality")
      .select("id", "component_id", "keep")
      .as[(Long, Long, Boolean)].collect().toSet
    assert(out == Set((1L, 1L, false), (4L, 1L, true), (7L, 1L, false),
      (2L, 2L, false), (9L, 2L, true)))
  }

  test("keepBest works with STRING ids (only the score is negated)") {
    val labels = Seq(("u1", "c1"), ("u2", "c1"), ("u3", "c1"))
      .toDF("id", "component_id")
    val scored = Seq(("u1", 0.9), ("u2", 0.9), ("u3", 0.5))
      .toDF("id", "quality")
    val out = Components.keepBest(labels, scored, "id", "component_id", "quality")
      .select("id", "keep").as[(String, Boolean)].collect().toSet
    // tie at 0.9 breaks to the lexicographically lowest id
    assert(out == Set(("u1", true), ("u2", false), ("u3", false)))
  }

  test("adaptiveComponents: driver path == distributed labels") {
    val pairs = Seq(
      (5L, 3L), (3L, 9L), (9L, 5L),
      (7L, 8L), (11L, 11L),
      (20L, 21L), (21L, 22L),
      (40L, 41L), (41L, 42L), (42L, 40L), (40L, 43L)
    ).toDF("a", "b")
    val dist = Components.connectedComponents(pairs, "a", "b")._1
      .as[(Long, Long)].collect().toMap
    val adap = Components.adaptiveComponents(pairs, "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(adap == dist)
  }

  test("adaptiveComponents: above the edge bound it falls back, same labels") {
    val chain = (0L until 30L).map(i => (i, i + 1)).toDF("a", "b")
    val adap = Components.adaptiveComponents(chain, "a", "b",
        driverEdgeLimit = 5) // 30 edges > 5: distributed path
      .as[(Long, Long)].collect().toMap
    assert(adap == (0L to 30L).map(_ -> 0L).toMap)
  }

  test("adaptiveComponents: non-Long ids take the distributed path") {
    val pairs = Seq(("a", "b"), ("b", "c"), ("x", "y"))
      .toDF("u", "v")
    val got = Components.adaptiveComponents(pairs, "u", "v")
      .as[(String, String)].collect().toMap
    assert(got == Map("a" -> "a", "b" -> "a", "c" -> "a",
      "x" -> "x", "y" -> "x"))
  }
}
