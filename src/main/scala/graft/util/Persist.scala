package graft.util

import org.apache.spark.sql.DataFrame

/** The ONE materialization policy for intermediate frames (iterative
  * rounds, signature tables reused by several join sides).
  *
  * Reliable `checkpoint()` when the session has a checkpoint dir
  * configured (cluster mode — survives executor loss, where a
  * localCheckpoint-truncated lineage would fail the job); else
  * `localCheckpoint` (local/test mode — executor-resident). The
  * reliable branch is always eager: a lazy reliable checkpoint
  * recomputes the plan a second time when the checkpoint files are
  * written (RDD.checkpoint's documented caveat), which costs more than
  * the action it saves. `eager = false` (local branch only) defers
  * materialization to the caller's next action — callers that count or
  * aggregate the frame immediately fold the checkpoint job into that
  * action.
  */
object Persist {
  // Plan-audit hook (r10 advice): checkpoints TRUNCATE lineage, so a
  // spec that inspects only a final frame's executedPlan never sees the
  // joins inside staged intermediates — plan-shape assertions on
  // iterative ops were vacuous. When auditing is on, every staged
  // frame's PRE-AQE physical plan (queryExecution.sparkPlan — available
  // at construction, no execution triggered) is flattened and its node
  // names recorded, so a spec can assert shape across ALL stages of a
  // build, not just the tail. Off by default: zero cost outside specs.
  // THREAD-scoped (r12 advice): the buffer was global mutable state, so
  // any other thread staging frames mid-audit (a running streaming
  // query's micro-batch) recorded foreign plans into the audit and
  // could fail it spuriously; a ThreadLocal scopes the recording to the
  // thread that called beginPlanAudit — stage() is invoked on the
  // thread CONSTRUCTING the DataFrame, which for an audited build is
  // the auditing thread itself. endPlanAudit also clears the state, so
  // calling it from a finally makes a throwing build unable to leave
  // auditing switched on.
  private val auditBuf = new ThreadLocal[java.util.ArrayDeque[String]]()
  private[graft] def beginPlanAudit(): Unit =
    auditBuf.set(new java.util.ArrayDeque[String]())
  /** Stop auditing and return every staged plan's node names (one
    * comma-joined entry per staged frame). Safe to call twice — the
    * second call returns empty; put one in a `finally`. */
  private[graft] def endPlanAudit(): Seq[String] = {
    val b = auditBuf.get()
    auditBuf.remove()
    if (b == null) Seq.empty
    else { import scala.jdk.CollectionConverters._; b.asScala.toSeq }
  }
  private def flatten(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] =
    p +: p.children.flatMap(flatten)

  def stage(df: DataFrame, eager: Boolean = true): DataFrame = {
    val buf = auditBuf.get()
    if (buf != null)
      buf.add(flatten(df.queryExecution.sparkPlan)
        .map(_.getClass.getSimpleName).mkString(","))
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint()
    else df.localCheckpoint(eager)
  }

  /** Best-effort release of a [[stage]]d frame's cached blocks. A
    * localCheckpoint'd Dataset is NOT in the CacheManager (unpersist()
    * on the Dataset is a no-op for it) — the cached data hangs off the
    * LogicalRDD leaf the checkpoint left in the plan, so eviction from
    * the artifact registry ([[Staged]]) must unpersist THAT RDD
    * or the blocks live for the JVM (r14 advice). Non-blocking and
    * swallow-all: release runs inside registry eviction, where a stopped
    * context or an analyzer error must never break the caller. */
  private[graft] def release(df: DataFrame): Unit =
    try {
      if (!df.sparkSession.sparkContext.isStopped)
        df.queryExecution.analyzed.foreach {
          case r: org.apache.spark.sql.execution.LogicalRDD =>
            r.rdd.unpersist(blocking = false); ()
          case _ => ()
        }
    } catch { case scala.util.control.NonFatal(_) => () }

  /** Register a temp tree for recursive deletion on JVM exit (bucketed
    * lake copies, test checkpoint dirs). */
  def deleteOnExit(root: java.io.File): Unit = {
    sys.addShutdownHook {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(root)
    }
    ()
  }
}
