package perfbench

import org.apache.spark.Success
import org.apache.spark.sql.perfbench.Internals
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Spans around the benchmark's calls into each layer of the program.
  *
  * A span records its wall time, its self time (wall minus the time
  * its child spans cover), the frames it left in the session's cache
  * manager, and counts the caller adds. With tracing on, the span's
  * name is also the job group of every Spark job started while it is
  * the innermost span; a listener sums those jobs' task metrics per
  * span. A parent's Spark counts include its children's.
  *
  * With tracing off, `span` only runs its body: no job groups, no
  * listener, no clock reads.
  */
final class Trace(spark: SparkSession, val enabled: Boolean) {

  private final class Work {
    var jobs, tasks, taskMs, inputBytes, shuffleWriteBytes, outputBytes, failedTasks = 0L
  }

  private final class Span {
    var calls = 0L
    var wallNs, selfNs = 0L
    var cachedLeft = 0L
    /** Sum and number of additions, per count key. */
    val counts = mutable.LinkedHashMap.empty[String, (Double, Long)]
  }

  private final class Frame(val name: String) { var childNs = 0L }

  private val sc = spark.sparkContext
  private val spans = mutable.LinkedHashMap.empty[String, Span]
  private val parentOf = mutable.Map.empty[String, String]
  private val stack = mutable.Stack.empty[Frame]
  // written on the listener-bus thread, read after a drain
  private val work = mutable.Map.empty[String, Work]
  private val stageSpan = mutable.Map.empty[Int, String]

  if (enabled) sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = work.synchronized {
      Option(e.properties).flatMap(p => Option(p.getProperty(Trace.JobGroupKey))).foreach { s =>
        work.getOrElseUpdate(s, new Work).jobs += 1
        e.stageIds.foreach(stageSpan(_) = s)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = work.synchronized {
      stageSpan.get(e.stageId).foreach { s =>
        val w = work.getOrElseUpdate(s, new Work)
        w.tasks += 1
        if (e.reason != Success) w.failedTasks += 1
        Option(e.taskMetrics).foreach { m =>
          w.taskMs += m.executorRunTime
          w.inputBytes += m.inputMetrics.bytesRead
          w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          w.outputBytes += m.outputMetrics.bytesWritten
        }
      }
    }
  })

  /** Run `body` as one call of span `name`. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      stack.headOption.foreach(p => parentOf(name) = p.name)
      val frame = new Frame(name)
      stack.push(frame)
      sc.setJobGroup(name, name)
      val cached0 = Internals.cachedFrames(spark)
      val t0 = System.nanoTime()
      try body
      finally {
        val wall = System.nanoTime() - t0
        stack.pop()
        val s = spans.getOrElseUpdate(name, new Span)
        s.calls += 1
        s.wallNs += wall
        s.selfNs += wall - frame.childNs
        s.cachedLeft += Internals.cachedFrames(spark) - cached0
        stack.headOption match {
          case Some(p) =>
            p.childNs += wall
            sc.setJobGroup(p.name, p.name)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Record one call of top-level span `name` that the caller timed
    * itself (it ran before the trace could exist).
    */
  def record(name: String, wallSeconds: Double): Unit =
    if (enabled) {
      val s = spans.getOrElseUpdate(name, new Span)
      val ns = (wallSeconds * 1e9).toLong
      s.calls += 1
      s.wallNs += ns
      s.selfNs += ns
    }

  /** Add `v` to count `key` of span `name`; reported as the mean over
    * the additions, so calls that add nothing do not dilute it.
    */
  def count(name: String, key: String, v: Double): Unit =
    if (enabled) {
      val s = spans.getOrElseUpdate(name, new Span)
      val (sum, n) = s.counts.getOrElse(key, (0.0, 0L))
      s.counts(key) = (sum + v, n + 1)
    }

  /** Per-span metrics, `<span>.<stat>`, for every span in `names`
    * (zeros for a span this run never entered) and every count key in
    * `countKeys`. Times and Spark counts are means per call, caller
    * counts means per addition; `failed_tasks` and
    * `cached_frames_after` are run totals.
    */
  def report(names: Seq[String], countKeys: Map[String, Seq[String]], cores: Int): Seq[(String, Double)] = {
    Internals.drainListenerBus(sc)
    def within(child: String, ancestor: String): Boolean =
      child == ancestor || parentOf.get(child).exists(within(_, ancestor))
    names.flatMap { n =>
      val s = spans.getOrElse(n, new Span)
      val w = new Work
      work.synchronized {
        work.foreach { case (k, x) =>
          if (within(k, n)) {
            w.jobs += x.jobs; w.tasks += x.tasks; w.taskMs += x.taskMs
            w.inputBytes += x.inputBytes; w.shuffleWriteBytes += x.shuffleWriteBytes
            w.outputBytes += x.outputBytes; w.failedTasks += x.failedTasks
          }
        }
      }
      val calls = math.max(s.calls, 1L).toDouble
      val wallS = s.wallNs / 1e9
      Seq(
        "wall_s" -> wallS / calls,
        "self_s" -> s.selfNs / 1e9 / calls,
        "jobs" -> w.jobs / calls,
        "tasks" -> w.tasks / calls,
        "task_s" -> w.taskMs / 1e3 / calls,
        "busy_ratio" -> (if (wallS > 0) w.taskMs / 1e3 / (wallS * cores) else 0.0),
        "input_bytes" -> w.inputBytes / calls,
        "shuffle_write_bytes" -> w.shuffleWriteBytes / calls,
        "output_bytes" -> w.outputBytes / calls,
        "failed_tasks" -> w.failedTasks.toDouble,
        "cached_frames_after" -> s.cachedLeft.toDouble
      ).map { case (k, v) => s"$n.$k" -> v } ++
        countKeys.getOrElse(n, Nil).map { k =>
          val (sum, adds) = s.counts.getOrElse(k, (0.0, 1L))
          s"$n.$k" -> sum / adds
        }
    }
  }

}

object Trace {
  private val JobGroupKey = "spark.jobGroup.id"
}
