package graft.operators

import graft.SparkSpec
import graft.queries.GraphQueries
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.time.{Seconds, Span}

/** The round loop under graft's iterative operators: the observed
  * convergence count, the jobs a round starts, the cut that no
  * lineage setting turns off, and the cap error.
  */
class FixpointSpec extends SparkSpec with TimeLimits {

  /** The path 0–1–…–n as (a, b) edges: label propagation needs n
    * rounds to carry label 0 to vertex n, and one more to see no
    * change.
    */
  private def chain(n: Int): DataFrame = {
    val s = spark
    import s.implicits._
    (0L until n.toLong).map(i => (i, i + 1)).toDF("a", "b")
  }

  /** `body`'s value, and the description of each SQL execution (one
    * per Dataset action) it starts, in order.
    */
  private def actionsOf[T](body: => T): (T, Seq[String]) = {
    val actions = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => actions.add(s.description)
        case _ =>
      }
    }
    ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    val out =
      try { val o = body; ListenerBusDrain(spark.sparkContext); o }
      finally spark.sparkContext.removeSparkListener(listener)
    (out, actions.toArray(Array.empty[String]).toSeq)
  }

  private def isCut(action: String): Boolean = action.startsWith("localCheckpoint at Fixpoint.scala")

  test("the observed count equals an explicit count of the changed labels in every round") {
    val e = chain(6)
    val und = e.select(col("a").as("u"), col("b").as("v"))
      .union(e.select(col("b").as("u"), col("a").as("v"))).persist()
    try {
      val init = Fixpoint.cut(und.select(col("u").as("id")).distinct()
        .withColumn("component", col("id")))
      val rounds = Seq.newBuilder[(Long, Long)]
      val labels = Fixpoint.untilStable("connected components", 20)(init) { labels =>
        val (next, observed) = Fixpoint.cutCount(ConnectedComponents.propagate(und, labels),
          col("next_component") =!= col("component"))
        rounds += observed -> next.filter(col("next_component") =!= col("component")).count()
        (next.select(col("id"), col("next_component").as("component")), observed == 0)
      }
      val got = rounds.result()
      assert(got.map(_._1) === got.map(_._2))
      // round r moves label 0 one vertex further: vertices r..6 change
      assert(got.map(_._1) === Seq(6L, 5L, 4L, 3L, 2L, 1L, 0L))
      assert(labels.collect().map(_.getLong(1)).toSet === Set(0L))
    } finally und.unpersist()
  }

  test("a connected-components round starts one action, its cut, and no probe") {
    val (labels, actions) = actionsOf(ConnectedComponents.run(chain(6), "a", "b"))
    // the initial labels plus 7 rounds: 6 that move label 0, 1 that is stable
    assert(actions.size === 8 && actions.forall(isCut), actions)
    assert(labels.collect().map(_.getLong(1)).toSet === Set(0L))
  }

  test("keepLineage and the disk lineage mode still cut every round") {
    val s = spark
    import s.implicits._
    // K5 with a 10-edge tail off vertex 1: k = 2, the tail peels one
    // vertex per round
    val k5 = for (a <- 1L to 5L; b <- (a + 1) to 5L) yield (a, b)
    val tail = (5L until 15L).map(i => (if (i == 5L) 1L else i, i + 1))
    val graph = (k5 ++ tail).toDF("u", "v")
    def runAll(): (Set[(Long, Long)], Set[(Long, Long)], Int) = {
      val ((cc, core), actions) = actionsOf {
        (ConnectedComponents.run(chain(6), "a", "b"), GraphQueries.kcore(graph))
      }
      // the last round's state is a cut: no join is left in either plan
      for (df <- Seq(cc, core))
        assert(df.queryExecution.optimizedPlan.collect { case j: Join => j }.isEmpty,
          df.queryExecution.optimizedPlan)
      def rows(df: DataFrame) = df.as[(Long, Long)].collect().toSet
      (rows(cc), rows(core), actions.count(isCut))
    }
    val plain = runAll()
    assert(plain._2 === (1L to 5L).map(_ -> 4L).toSet)
    System.setProperty("graft.keepLineage", "true")
    try assert(runAll() === plain)
    finally System.clearProperty("graft.keepLineage")
    spark.conf.set("spark.graft.lineageCut", "disk")
    try assert(runAll() === plain)
    finally spark.conf.unset("spark.graft.lineageCut")
  }

  test("a frame the optimizer proves empty still delivers its count") {
    val s = spark
    import s.implicits._
    // the filter folds the plan to an empty relation under the observe:
    // the count must still arrive with the cut, or get would block
    val folded = Seq((1L, 2L)).toDF("u", "v").filter(lit(false))
    implicit val interrupt: Signaler = ThreadSignaler
    failAfter(Span(60, Seconds)) {
      val (out, n) = Fixpoint.cutCount(folded)
      assert(n === 0L && out.collect().isEmpty)
    }
  }

  test("a cap that is hit raises the helper's error, naming the operator and the round") {
    val err = intercept[Fixpoint.NotConverged] {
      ConnectedComponents.starContract(chain(16), "a", "b", maxRounds = 1)
    }
    assert(err.op === "star contraction" && err.round === 1L)
    assert(err.getMessage === "star contraction did not converge by round 1, its cap")
    val spin = intercept[Fixpoint.NotConverged] {
      Fixpoint.untilStable("spin", 3)(0)(n => (n + 1, false))
    }
    assert(spin.getMessage === "spin did not converge by round 3, its cap")
    assert(Fixpoint.untilStable("settle", 3)(0)(n => (n + 1, n + 1 == 3)) === 3)
  }
}
