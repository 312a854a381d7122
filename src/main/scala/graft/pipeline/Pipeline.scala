package graft.pipeline

import java.util.concurrent.{Callable, ExecutionException, Executors, ThreadFactory}

/** Minimal DAG runner ≙ the Databricks Jobs workflow
  * (`/root/reference/src/job/workflow.json`, SURVEY.md §2.10):
  * stages with explicit dependencies, run in waves — every stage whose
  * deps are all done runs concurrently with the others of its wave, as the
  * reference runs `dimensions` beside `reviews_fact` — fail-fast
  * (`run_if: ALL_SUCCESS`).
  *
  * Stages of one wave share the caller's SparkSession. The library itself
  * writes no session conf (a partition-scoped overwrite reads its mode
  * from the table, see `TableStore.savePartitioned`). A stage that
  * changes session state another stage reads — a conf, a temp-view name,
  * the current database — must be ordered against that stage by a dep;
  * stages with no dependency path between them are, by declaration,
  * independent.
  */
final case class Stage(name: String, deps: Seq[String] = Nil)(val run: () => Unit)

object Pipeline {

  /** Workflow-level trigger contract ≙ `workflow.json:8-13,94-96`: the
    * reference job fires on a daily Quartz cron with
    * `max_concurrent_runs = 1` — a trigger that lands while a run is active
    * is QUEUED, never dropped and never run concurrently. Cron firing
    * itself belongs to the scheduler; the semantics the engine must honor
    * is this serialization + FIFO-queueing guarantee, which `Runner`
    * models: `submit` executes immediately when no run is active and
    * queues otherwise, draining after each completion.
    */
  final class Runner {
    private var running = false
    private val queue = scala.collection.mutable.Queue.empty[Seq[Stage]]
    private var executed = Vector.empty[Seq[String]]
    private var failures = Vector.empty[Throwable]

    /** Enqueue a run. Caller-runs semantics: if no run is active, the
      * submitting thread drains the queue (so the common idle-submit case
      * executes synchronously); otherwise submit returns immediately with
      * the run queued — a trigger never blocks behind an active run. A
      * failed run is recorded in [[failedRuns]] and does NOT drop queued
      * runs (the next trigger still fires after a failed one, as with a
      * scheduler); the monitor guards only queue state, never a running
      * pipeline, so FIFO order is strict.
      */
    def submit(stages: Seq[Stage]): Unit = {
      val acquired = synchronized {
        queue.enqueue(stages)
        if (running) false else { running = true; true }
      }
      if (acquired) drainLoop()
    }

    private def drainLoop(): Unit = {
      var continue = true
      try {
        while (continue) {
          val next = synchronized {
            if (queue.isEmpty) { running = false; None } else Some(queue.dequeue())
          }
          next match {
            case None => continue = false
            case Some(stages) =>
              // Only NonFatal failures are ordinary run failures; a fatal
              // throwable (OOM, InterruptedException, LinkageError) means
              // the JVM/thread is unsafe to keep draining on — propagate.
              val r =
                try Right(Pipeline.run(stages))
                catch { case scala.util.control.NonFatal(e) => Left(e) }
              synchronized {
                r match {
                  case Right(order) => executed :+= order
                  case Left(e)      => failures :+= e
                }
              }
          }
        }
      } catch {
        case t: Throwable =>
          // Fatal escape mid-drain: clear the flag so a later submit on a
          // healthy thread can still drain the queue, then rethrow.
          synchronized { running = false }
          throw t
      }
    }

    /** Stage orders of completed runs, in completion order. */
    def completedRuns: Seq[Seq[String]] = synchronized(executed)

    /** Failures of runs that aborted (fail-fast inside `Pipeline.run`). */
    def failedRuns: Seq[Throwable] = synchronized(failures)
  }

  /** Run stages in dependency order, one wave at a time: a wave is every
    * stage whose deps are all done, and its stages run concurrently, each
    * on its own thread. Any failure aborts the rest: no stage of a later
    * wave starts (downstream of the reference's quality gate never runs on
    * error — `workflow.json:49-79`). Returns the executed order: waves in
    * order, stages in declaration order within a wave, whichever finished
    * first.
    */
  def run(stages: Seq[Stage]): Seq[String] = {
    val byName = stages.map(s => s.name -> s).toMap
    stages.foreach(s => s.deps.foreach(d =>
      require(byName.contains(d), s"stage ${s.name}: unknown dep $d")))
    var done = Vector.empty[String]
    var remaining = stages.toVector // strict: a lazy wave would submit serially
    while (remaining.nonEmpty) {
      val (ready, blocked) = remaining.partition(_.deps.forall(done.contains))
      require(ready.nonEmpty,
        s"dependency cycle among: ${remaining.map(_.name).mkString(", ")}")
      runWave(ready)
      done ++= ready.map(_.name)
      remaining = blocked
    }
    done
  }

  /** Runs one wave on a pool of `wave.size` threads and waits for every
    * stage, even after one fails. The pool is created from the calling
    * thread, so its threads inherit the caller's SparkContext local
    * properties (job group, scheduler pool) and active session. The first
    * failure in declaration order is rethrown as the stage threw it, with
    * the others attached as suppressed; a fatal error reaches the caller
    * as itself, never wrapped.
    */
  private def runWave(wave: Seq[Stage]): Unit = {
    val pool = Executors.newFixedThreadPool(wave.size, stageThreads)
    try {
      val futures = wave.map(s => pool.submit(new Callable[Unit] {
        override def call(): Unit = s.run()
      }))
      val failures = futures.flatMap { f =>
        try { f.get(); None }
        catch { case e: ExecutionException => Some(Option(e.getCause).getOrElse(e)) }
      }
      failures.headOption.foreach { first =>
        failures.tail.filter(_ ne first).foreach(first.addSuppressed)
        throw first
      }
    } finally pool.shutdownNow()
  }

  /** Daemon threads: a stage that never returns must not keep the JVM up. */
  private val stageThreads: ThreadFactory = (r: Runnable) => {
    val t = new Thread(r, "graft-pipeline-stage")
    t.setDaemon(true)
    t
  }
}
