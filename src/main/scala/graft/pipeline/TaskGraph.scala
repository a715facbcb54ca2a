package graft.pipeline

/** Driver-side task-dependency graph (SURVEY §2.8 O10).
  *
  * Re-expresses the reference's networkx-backed `TaskManager`
  * (`src/orchestration/task_manager.py:111-418`): topological levels,
  * cycle detection, trigger rules, ready-set computation. Not itself a
  * scheduler — [[PipelineRunner.run]] starts whole tasks (ingest →
  * transform → validate) from [[startable]] and Spark's DAG scheduler
  * handles the parallelism inside each; this layer orders tasks and
  * validates config (SURVEY §1.1 "keep a thin PipelineGraph only for
  * config validation").
  */
object TaskStatus {
  val Pending = "pending"
  val Running = "running"
  val Success = "success"
  val Failed = "failed"
  val Skipped = "skipped"
}

/** `startNanos`/`endNanos` are `System.nanoTime` stamps bounding the
  * task's whole execution, retries included (0 for a task that never
  * ran); `durationSeconds` is its last attempt. Compare stamps only
  * within one JVM. */
case class TaskResult(taskId: String, status: String,
    durationSeconds: Double = 0.0, error: Option[String] = None,
    startNanos: Long = 0L, endNanos: Long = 0L)

/** Aggregate execution statistics for one task across a runner's
  * history (reference `task_manager.py:356-388`). */
case class TaskStats(taskId: String, totalExecutions: Int,
    successfulExecutions: Int, successRate: Double,
    avgDurationSeconds: Double, lastStatus: Option[String])

/** `deps`: downstream → upstream ids (the YAML `dependencies` map);
  * `priorities`: per-task scheduling priority, default 1
  * (`task_manager.py:93`). */
case class TaskGraph(tasks: Set[String], deps: Map[String, Seq[String]],
    triggerRules: Map[String, String] = Map.empty,
    priorities: Map[String, Int] = Map.empty) {

  def upstream(id: String): Seq[String] = deps.getOrElse(id, Seq.empty)

  def downstream(id: String): Seq[String] =
    deps.collect { case (d, ups) if ups.contains(id) => d }.toSeq.sorted

  /** Missing-task references + cycles, as config errors
    * (`task_manager.py:243-265`). */
  def validate: Seq[String] = {
    val missing = deps.toSeq.sortBy(_._1).flatMap { case (d, ups) =>
      (if (!tasks.contains(d)) Seq(s"Missing downstream task: $d") else Nil) ++
        ups.filterNot(tasks.contains).map(u => s"Missing upstream task: $u")
    }
    missing ++ findCycle.map(c =>
      s"Circular dependency detected: ${c.mkString(" -> ")}").toSeq
  }

  /** First cycle found via iterative DFS with colors, or None. */
  def findCycle: Option[Seq[String]] = {
    val White = 0; val Gray = 1; val Black = 2
    val color = scala.collection.mutable.Map(tasks.toSeq.map(_ -> White): _*)
    val parent = scala.collection.mutable.Map.empty[String, String]

    def dfs(start: String): Option[Seq[String]] = {
      var stack = List((start, upstream(start).filter(tasks.contains).toList))
      color(start) = Gray
      while (stack.nonEmpty) {
        val (node, rest) = stack.head
        rest match {
          case Nil =>
            color(node) = Black
            stack = stack.tail
          case next :: more =>
            stack = (node, more) :: stack.tail
            if (color(next) == Gray) {
              // unwind the gray chain node -> ... -> next
              var cyc = List(node)
              while (cyc.head != next && parent.contains(cyc.head))
                cyc = parent(cyc.head) :: cyc
              return Some(cyc :+ next) // closed walk: next -> ... -> next
            } else if (color(next) == White) {
              parent(next) = node
              color(next) = Gray
              stack = (next, upstream(next).filter(tasks.contains).toList) :: stack
            }
        }
      }
      None
    }
    tasks.toSeq.sorted.foldLeft(Option.empty[Seq[String]]) {
      case (found @ Some(_), _) => found
      case (None, t) if color(t) == White => dfs(t)
      case (None, _) => None
    }
  }

  /** Topological execution levels (`task_manager.py:209-241`): level k =
    * tasks whose upstreams are all in levels < k. Throws on cycles. */
  def executionLevels: Seq[Seq[String]] = {
    var remaining = tasks
    val levels = Seq.newBuilder[Seq[String]]
    while (remaining.nonEmpty) {
      val level = byPriority(remaining.filter(t =>
        !upstream(t).exists(remaining.contains)).toSeq)
      if (level.isEmpty)
        throw new IllegalStateException("Circular dependency detected")
      levels += level
      remaining --= level
    }
    levels.result()
  }

  /** Trigger-rule gate (`task_manager.py:267-325`): may `id` run given
    * upstream results so far? Default rule: all_success. */
  def canExecute(id: String, ctx: Map[String, TaskResult]): Boolean = {
    if (!tasks.contains(id)) return false
    val ups = upstream(id)
    if (ups.isEmpty) return true
    def st(u: String): Option[String] = ctx.get(u).map(_.status)
    triggerRules.getOrElse(id, "all_success") match {
      case "all_success" => ups.forall(st(_).contains(TaskStatus.Success))
      case "all_failed" => ups.forall(st(_).contains(TaskStatus.Failed))
      case "all_done" => ups.forall(st(_).exists(s =>
        s == TaskStatus.Success || s == TaskStatus.Failed))
      case "one_success" => ups.exists(st(_).contains(TaskStatus.Success))
      case "one_failed" => ups.exists(st(_).contains(TaskStatus.Failed))
      case "none_failed" => ups.forall(!st(_).contains(TaskStatus.Failed))
      case "none_skipped" => ups.forall(!st(_).contains(TaskStatus.Skipped))
      case _ => false
    }
  }

  /** Higher priority first; id within a tie so the order is
    * deterministic (`task_manager.py:336-341`). */
  private def byPriority(ids: Seq[String]): Seq[String] =
    ids.sortBy(id => (-priorities.getOrElse(id, 1), id))

  /** Of `waiting`, the tasks whose every upstream has a result in `ctx`,
    * higher priority first: what a scheduler may start, or skip on its
    * trigger rule, next. */
  def startable(waiting: Set[String], ctx: Map[String, TaskResult]): Seq[String] =
    byPriority(waiting.filter(upstream(_).forall(ctx.contains)).toSeq)

  /** Tasks ready to execute now, higher priority first
    * (`task_manager.py:327-341`). */
  def readyTasks(ctx: Map[String, TaskResult]): Seq[String] =
    byPriority(tasks.toSeq
      .filterNot(ctx.contains)
      .filter(canExecute(_, ctx)))
}

object TaskGraph {
  /** Graph from a pipeline spec: declared task ids + dependency map. */
  def fromSpec(spec: PipelineSpec): TaskGraph =
    TaskGraph(spec.taskIds.toSet, spec.dependencies,
      priorities = spec.priorities)
}
