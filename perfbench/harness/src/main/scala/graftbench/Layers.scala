package graftbench

import scala.jdk.CollectionConverters._

/** Per-layer metrics derived from a traced run's spans, jobs, SQL
  * executions and streaming progress. */
object Layers {
  private def med(xs: Iterable[Double]): Double = {
    val s = xs.filterNot(_.isNaN).toSeq
    if (s.isEmpty) 0.0 else Stats.median(s)
  }
  /** Like `med`, but NaN (printed as idle) when there is no sample. */
  private def idle(xs: Iterable[Double]): Double =
    if (xs.isEmpty) Double.NaN else med(xs)

  /** Streaming layers for the given queries (label, query id,
    * checkpoint): micro-batch phases, state, and the MERGE sink's work
    * split by Dataset action inside `addBatch`. */
  def streaming(t: Tracer, queries: Seq[(String, String, Checkpoint)],
      inputBytes: Map[String, Long]): Map[String, Double] = {
    val qids = queries.map(_._2).toSet
    val bs = t.batches.asScala.toSeq.filter(b => qids(b.queryId))
    val data = bs.filter(_.inputRows > 0)
    def phase(k: String) = med(data.flatMap(_.durationMs.get(k)).map(_.toDouble))
    val jobs = t.jobSeq.filter(j => j.queryId != null && qids(j.queryId))
    val byBatch = jobs.groupBy(j => (j.queryId, j.batchId))
    val dataKeys = data.map(b => (b.queryId, b.batchId)).toSet
    val batchJobs = byBatch.filter { case (k, _) => dataKeys(k) }

    // MERGE phases, named by what ran them, not by position: each SQL
    // execution of a batch is labelled by its action name as Spark
    // reports it at execution end — the execution that writes files is
    // `write`, `collect` is the touched set, and of the two
    // `localCheckpoint`s the first is the delta (which also runs parse
    // and the state machine) and the second the merged frame, which reads
    // the delta. Anything else (a listing job of the table read, say) is
    // `other`. Only batches with exactly delta, touched, merged and write
    // count towards the phase medians; a no-op merge (delta and touched
    // only) is left out, and any other shape is counted as unclassified
    // and reported.
    val Phases = Seq("delta", "merged", "touched", "write")
    val labelled: Map[(String, Long), Seq[(String, Seq[JobRec])]] = batchJobs.map { case (k, js) =>
      val execs = js.filter(_.execId >= 0).groupBy(_.execId).toSeq.sortBy(_._2.map(_.startMs).min)
      def name(id: Long) = Option(t.execNames.get(id)).getOrElse("")
      val checkpoints = execs.map(_._1).filter(name(_) == "localCheckpoint")
      k -> execs.map { case (id, g) =>
        (if (t.execWrites.containsKey(id)) "write"
          else if (name(id) == "collect") "touched"
          else checkpoints.indexOf(id) match { case 0 => "delta"; case 1 => "merged"; case _ => "other" }) -> g
      }
    }
    def wall(g: Seq[JobRec]) = (g.map(_.endMs).max - g.map(_.startMs).min).toDouble
    val complete = labelled.filter { case (_, ls) => ls.map(_._1).filter(_ != "other").sorted == Phases }
    val noop = labelled.filter { case (_, ls) => ls.map(_._1).filter(_ != "other").sorted == Seq("delta", "touched") }
    val unclassified = labelled.size - complete.size - noop.size
    if (unclassified > 0)
      System.err.println(s"[layers] $unclassified data batches without the expected MERGE actions; " +
        "left out of merge.*: " + labelled.filterNot { case (k, _) => complete.contains(k) || noop.contains(k) }
          .values.take(3).map(_.map { case (l, g) =>
            s"$l:${g.map(j => Option(t.execNames.get(j.execId)).getOrElse("?")).distinct.mkString("/")}"
          }.mkString(", ")).mkString(" | "))
    val phases = complete.values.map(_.groupBy(_._1).map { case (l, gs) => l -> gs.map(g => wall(g._2)).sum }).toSeq

    // the sink's table write of each complete batch, from its write
    // execution
    val writes: Seq[((String, Long), Map[String, Long])] = complete.toSeq.flatMap { case (k, ls) =>
      ls.find(_._1 == "write").flatMap { case (_, g) => Option(t.execWrites.get(g.head.execId)).map(k -> _) }
    }
    val admitted: Map[(String, Long), Seq[String]] = queries.flatMap { case (_, qid, ck) =>
      ck.fileBatches.toSeq.map { case (f, b) => (qid, b) -> f }
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val writtenBytes = writes.map(_._2.getOrElse("numOutputBytes", 0L)).sum.toDouble
    val inBytes = writes.map(_._1).distinct
      .flatMap(k => admitted.getOrElse(k, Nil)).map(f => inputBytes.getOrElse(f, 0L)).sum.toDouble

    Map(
      "streaming.batches" -> bs.size.toDouble,
      "streaming.trigger_ms" -> phase("triggerExecution"),
      "streaming.latest_offset_ms" -> phase("latestOffset"),
      "streaming.query_planning_ms" -> phase("queryPlanning"),
      "streaming.add_batch_ms" -> phase("addBatch"),
      "streaming.wal_commit_ms" -> phase("walCommit"),
      "streaming.commit_offsets_ms" -> phase("commitOffsets"),
      "streaming.state_rows" -> (if (bs.isEmpty) 0.0 else bs.map(_.stateRows).max.toDouble),
      "streaming.state_bytes" -> (if (bs.isEmpty) 0.0 else bs.map(_.stateBytes).max.toDouble),
      "streaming.state_commit_ms" -> med(data.filter(_.stateRows > 0).map(_.stateCommitMs.toDouble)),
      "streaming.exec_cpu_s" -> med(batchJobs.values.map(_.map(_.cpuNs).sum / 1e9)),
      "streaming.shuffle_bytes" -> med(batchJobs.values.map(_.map(_.shuffleBytes).sum.toDouble)),
      "sources.files_per_batch" -> med(admitted.filter { case (k, _) => dataKeys(k) }.values.map(_.size.toDouble)),
      "sources.events_per_batch" -> med(data.map(_.inputRows.toDouble)),
      "merge.batches_complete" -> complete.size.toDouble,
      "merge.batches_noop" -> noop.size.toDouble,
      "merge.batches_unclassified" -> unclassified.toDouble,
      "merge.delta_ms" -> idle(phases.map(_("delta"))),
      "merge.touched_ms" -> idle(phases.map(_("touched"))),
      "merge.merged_ms" -> idle(phases.map(_("merged"))),
      "merge.write_ms" -> idle(phases.map(_("write"))),
      "merge.partitions_touched" -> med(writes.map(_._2.getOrElse("numParts", 0L).toDouble)),
      "merge.bytes_written" -> med(writes.map(_._2.getOrElse("numOutputBytes", 0L).toDouble)),
      "merge.files_written" -> med(writes.map(_._2.getOrElse("numFiles", 0L).toDouble)),
      "merge.write_amp" -> (if (inBytes > 0) writtenBytes / inBytes else 0.0))
  }

  /** Executor work of the batch derivation (`deriveTables` spans). */
  def taskrouter(t: Tracer): Map[String, Double] = {
    val spans = t.spanSeq.filter(s => s.layer == "taskrouter" && s.name == "deriveTables")
    val perSpan = spans.map(s => t.jobsUnder(t.subtree(s.id)))
    Map(
      "taskrouter.exec_cpu_s" -> med(perSpan.map(_.map(_.cpuNs).sum / 1e9)),
      "taskrouter.shuffle_bytes" -> med(perSpan.map(_.map(_.shuffleBytes).sum.toDouble)),
      "taskrouter.spill_bytes" -> med(perSpan.map(_.map(_.spillBytes).sum.toDouble)))
  }

  /** Adds each query execution's job, plan and executor numbers to its
    * layer record. */
  def queries(t: Tracer, execs: Seq[Queries.Exec]): Seq[Queries.Exec] = {
    val spans = t.spanSeq
    val qes = t.qes.asScala.toSeq
    execs.map { e =>
      spans.find(s => s.layer == "query" && s.attrs.get("seq").contains(e.seq))
        .map { s =>
          val kids = spans.filter(_.parent == s.id)
          def under(layer: String) = kids.filter(_.layer == layer)
            .flatMap(k => t.jobsUnder(t.subtree(k.id)))
          val construct = under("query.construct")
          val run = under("query.exec")
          val all = construct ++ run
          val tasks = all.flatMap(j => j.synchronized(j.taskMs.toList)).map(_.toDouble)
          val medTask = if (tasks.isEmpty) 0.0 else Stats.median(tasks)
          e.copy(layer = e.layer ++ Map(
            "construct_jobs" -> construct.size.toDouble,
            "jobs" -> run.size.toDouble,
            "tasks" -> all.map(_.tasks).sum.toDouble,
            "plan_ms" -> qes.filter(q => q.midNs >= s.startNs && q.midNs <= s.endNs)
              .map(_.phasesMs.values.sum).sum.toDouble,
            "exec_cpu_ms" -> all.map(_.cpuNs).sum / 1e6,
            "gc_ms" -> all.map(_.gcMs).sum.toDouble,
            "shuffle_bytes" -> all.map(_.shuffleBytes).sum.toDouble,
            "spill_bytes" -> all.map(_.spillBytes).sum.toDouble,
            "task_skew" -> (if (medTask > 0) tasks.max / medTask else 1.0)))
        }.getOrElse(e)
    }
  }
}
