package graft.io

import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The session-artifact registry: derived corpus state (signature
  * index, near-dup labels, trade-graph edges, trained quantizers, BPE
  * merges, staged stream batches) built once per (kind, corpus dir,
  * params) and reused by every later query of the JVM — across
  * SparkSession restarts too, since tables live in scratch parquet
  * and values on the driver.
  *
  * Three forms: [[value]] for driver-side results, [[table]] for a
  * table written once to scratch parquet and read back per call, and
  * [[dir]] for a multi-file staging dir. Scratch dirs are named
  * `graft-<kind>-…` and allocated through [[Scratch.dirAutoCleaned]],
  * so cleanup is registered before anything is written.
  *
  * Concurrent callers of one key get one build. A failed build is not
  * memoized: the next call builds again in a fresh scratch dir. Builds
  * may nest (a label table built through the signature index): each
  * key has its own holder and the build runs under that holder's
  * lock, never inside the map's own update.
  *
  * Staleness: a build records a digest of the corpus dir's recursive
  * listing (relative path, length, mtime per file); every hit lists
  * the dir again and fails if the digest moved, so a corpus rewritten
  * in place raises instead of serving the old corpus's artifact
  * ([[graft.Tables]]' immutability contract, checked).
  */
object Artifacts {

  private final case class Key(kind: String, corpusDir: String, params: Seq[Any])

  /** A key's holder: the built value and the corpus digest it was
    * built from, or None until a build succeeds. */
  private final class Slot { var built: Option[(Any, String)] = None }

  private val slots = new ConcurrentHashMap[Key, Slot]()

  /** `build`'s result, built once per key. */
  def value[A](spark: SparkSession, kind: String, corpusDir: String, params: Any*)(
      build: => A): A = {
    val slot = slots.computeIfAbsent(Key(kind, corpusDir, params), _ => new Slot)
    slot.synchronized {
      val now = digest(spark, corpusDir)
      slot.built match {
        case Some((v, seen)) =>
          if (seen != now) throw new IllegalStateException(
            s"stale session artifact '$kind': corpus dir $corpusDir changed after " +
              "the artifact was built from it; corpus dirs are read-only for " +
              "the JVM's lifetime — write a changed corpus to a fresh dir")
          v.asInstanceOf[A]
        case None =>
          val v = build
          slot.built = Some((v, now))
          v
      }
    }
  }

  /** A fresh `graft-<kind>-` scratch dir filled once by `build`; returns
    * its path. */
  def dir(spark: SparkSession, kind: String, corpusDir: String, params: Any*)(
      build: String => Unit): String =
    value(spark, kind, corpusDir, params: _*) {
      val work = Scratch.dirAutoCleaned(spark, s"graft-$kind-")
      build(work)
      work
    }

  /** `build` written once to scratch parquet, read back on every call.
    * The schema is inferred once, at the build, so that a hit reads with
    * it and runs no schema-inference job. */
  def table(spark: SparkSession, kind: String, corpusDir: String, params: Any*)(
      build: => DataFrame): DataFrame = {
    val (path, schema) = value(spark, kind, corpusDir, params: _*) {
      val path = s"${Scratch.dirAutoCleaned(spark, s"graft-$kind-")}/$kind"
      build.write.parquet(path)
      (path, spark.read.parquet(path).schema)
    }
    spark.read.schema(schema).parquet(path)
  }

  /** MD5 over the sorted (relative path, length, mtime) lines of the
    * dir's recursive listing. */
  private def digest(spark: SparkSession, dir: String): String = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val base = fs.makeQualified(root).toUri.getPath.stripSuffix("/")
    val lines = Seq.newBuilder[String]
    val it = fs.listFiles(root, true)
    while (it.hasNext) {
      val f = it.next()
      lines += s"${f.getPath.toUri.getPath.stripPrefix(base)}\t${f.getLen}\t${f.getModificationTime}"
    }
    val md = MessageDigest.getInstance("MD5")
    lines.result().sorted.foreach(l => md.update((l + "\n").getBytes(StandardCharsets.UTF_8)))
    md.digest().map("%02x".format(_)).mkString
  }
}
