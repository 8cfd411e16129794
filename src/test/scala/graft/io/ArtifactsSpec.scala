package graft.io

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import graft.SparkSpec
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** The session-artifact registry over cheap builds: one build per key
  * under concurrency, nested builds, and failed builds retried (the
  * stale-corpus check is StaleCorpusSpec's).
  */
class ArtifactsSpec extends SparkSpec {

  /** Runs `body` over a fresh one-file corpus dir, deleted afterwards. */
  private def withCorpus(body: String => Unit): Unit =
    withTempDir("graft-artifacts-spec-") { dir =>
      Files.writeString(dir.resolve("documents.txt"), "a")
      body(dir.toString)
    }

  test("8 concurrent callers of one key run the build exactly once") {
    withCorpus { dir =>
      val builds = new AtomicInteger()
      val start = new CountDownLatch(1)
      val pool = Executors.newFixedThreadPool(8)
      try {
        val calls = (1 to 8).map { _ =>
          pool.submit { () =>
            start.await()
            Artifacts.value(spark, "spec-once", dir) {
              Thread.sleep(200)
              builds.incrementAndGet()
            }
          }
        }
        start.countDown()
        val got = calls.map(_.get(60, TimeUnit.SECONDS))
        assert(builds.get === 1)
        assert(got.toSet === Set(1))
      } finally pool.shutdownNow()
    }
  }

  test("a build that calls the registry for another key returns normally") {
    withCorpus { dir =>
      val v = Artifacts.value(spark, "spec-outer", dir) {
        Artifacts.value(spark, "spec-inner", dir)(20) + 1
      }
      assert(v === 21)
      import spark.implicits._
      val t = Artifacts.table(spark, "spec-outer-table", dir) {
        Artifacts.table(spark, "spec-inner-table", dir)(Seq(1L, 2L, 3L).toDF("id"))
          .selectExpr("id * 2 AS id")
      }
      assert(t.as[Long].collect().sorted.toSeq === Seq(2L, 4L, 6L))
    }
  }

  test("a build that throws is rethrown, and the next call builds again in a fresh dir") {
    withCorpus { dir =>
      val works = scala.collection.mutable.ListBuffer[String]()
      val e = intercept[IllegalArgumentException] {
        Artifacts.dir(spark, "spec-retry", dir) { work =>
          works += work
          throw new IllegalArgumentException("build failed")
        }
      }
      assert(e.getMessage === "build failed")
      val built = Artifacts.dir(spark, "spec-retry", dir) { work => works += work }
      assert(works.size === 2 && works.distinct.size === 2)
      assert(built === works.last)
      assert(Paths.get(built).getFileName.toString.startsWith("graft-spec-retry-"))
      // now memoized: no third build
      assert(Artifacts.dir(spark, "spec-retry", dir)(works += _) === built)
      assert(works.size === 2)
    }
  }

  test("a table hit creates its DataFrame without a Spark job") {
    withCorpus { dir =>
      val s = spark
      import s.implicits._
      def table = Artifacts.table(spark, "spec-hit-table", dir)(Seq(1L, 2L).toDF("id"))
      val built = table
      val jobs = new AtomicInteger()
      val counter = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      }
      ListenerBusDrain(spark.sparkContext)
      spark.sparkContext.addSparkListener(counter)
      val hit =
        try { val h = table; ListenerBusDrain(spark.sparkContext); h }
        finally spark.sparkContext.removeSparkListener(counter)
      assert(jobs.get === 0)
      assert(hit.schema === built.schema)
      assert(hit.as[Long].collect().sorted.toSeq === Seq(1L, 2L))
    }
  }
}
