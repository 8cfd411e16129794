package graft

/** Runs a few driver-side tasks side by side: the one thread mechanism
  * behind a batch's concurrent sinks ([[graft.io.SinkWriter.writeAll]])
  * and a run's concurrent batches
  * ([[graft.pipeline.IncrementalPipeline.run]]). Each task usually
  * submits a Spark job of a task or two, so running them one after the
  * other leaves the other cores idle.
  *
  * Each task runs on its own thread, created by the calling thread for
  * this call only, so it inherits the caller's Spark local properties
  * (job group, job description, scheduler pool, a stream's batch ids).
  * There is no pool: a call starts one thread per sink of a flow, or one
  * per batch of a backfill window (at most
  * [[graft.pipeline.IncrementalPipeline.MaxWindow]] batches).
  */
object Concurrently {

  /** Runs every `(threadName, task)` and returns the outcomes in
    * declared order, once every task has ended. If the caller is
    * interrupted meanwhile, the interrupt is passed on to every task and
    * raised once all of them have ended.
    */
  def attempt[A](tasks: Seq[(String, () => A)]): Seq[Either[Throwable, A]] = {
    val outcomes = new Array[Either[Throwable, A]](tasks.size)
    val threads = tasks.zipWithIndex.map { case ((name, task), i) =>
      new Thread(() => outcomes(i) =
        try Right(task()) catch { case t: Throwable => Left(t) }, name)
    }
    threads.foreach(_.start())
    joinAll(threads)
    outcomes.toSeq
  }

  /** The values of `outcomes`, or the first failure in declared order
    * with the other failures attached as suppressed. */
  def results[A](outcomes: Seq[Either[Throwable, A]]): Seq[A] = {
    val failures = outcomes.collect { case Left(t) => t }
    failures.headOption.foreach { first =>
      failures.tail.foreach(first.addSuppressed)
      throw first
    }
    outcomes.collect { case Right(a) => a }
  }

  private def joinAll(threads: Seq[Thread]): Unit = {
    var interrupted = false
    threads.foreach { t =>
      while (t.isAlive)
        try t.join()
        catch { case _: InterruptedException =>
          interrupted = true
          threads.foreach(_.interrupt())
        }
    }
    if (interrupted) throw new InterruptedException("interrupted while running concurrent tasks")
  }
}
