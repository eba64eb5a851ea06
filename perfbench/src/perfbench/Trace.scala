package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SaveMode}

import graft.kernel.Detect
import graft.operators.DedupOps
import graft.pipeline.GenData
import graft.schema.{DetectConfig, Vocab}

/** Per-layer metrics of a traced run, measured from outside the program:
  * timed calls into the public functions of `graft.kernel`,
  * `graft.pipeline.Extract` and `graft.operators.DedupOps`, plus the
  * benchmark's own [[StageLog]] listener.
  *
  * Every traced run reports every layer. The layers its workload runs come
  * from its own passes; the others come from a probe on the same seed's
  * other corpus (one extract pass for `pipeline.*` on dedup, one dedup pass
  * for `operators.*` on the extract workloads), so no value is a stand-in.
  */
object Trace {

  /** Host capacity now: the repo's fixed 1-thread and n-thread spins. */
  def spin(n: Int): (Double, Double) = (graft.Bench.spinSecs(), graft.Bench.spinSecsParallel(n))

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode(SaveMode.Overwrite).save()

  private def timed(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  // Stages of one extraction pass, told apart by their metrics and scopes.
  /** The map stage that reads the media table and shuffles its payloads. */
  def mediaExchange(w: Window): Option[StageRec] =
    w.stages.filter(s => s.shuffleReadRecords == 0 && s.inputRecords > 0).maxByOption(_.shuffleWriteMb)
  /** The stage running the media join and the kernel `mapPartitions`. */
  def kernelStage(w: Window): Option[StageRec] = w.stages.find(_.scopes.contains("MapPartitions"))
  /** The last stage after the doc_id shuffle: assembly (and the write). */
  def assemblyStage(w: Window): Option[StageRec] = {
    val k = kernelStage(w).map(_.id)
    w.stages.filter(s => s.shuffleReadRecords > 0 && !k.contains(s.id)).lastOption
  }

  private def stageMedian(ws: Seq[Window], pick: Window => Option[StageRec])(f: StageRec => Double): Double =
    Main.median(ws.flatMap(pick).map(f))

  /** Single-threaded kernel rates on the payloads of the seed's first docs. */
  private def kernel(seed: Long, docs: Long): Map[String, Double] = {
    val payloads = (0L until math.min(docs, 1500L))
      .flatMap(i => GenData.media(seed, GenData.doc(seed, i))).map(_.payload).toArray
    /** payloads/s of `f` over `ps` after one warm sweep, and f's sum per sweep. */
    def rate(ps: Array[Array[Byte]])(f: Array[Byte] => Int): (Double, Int) = {
      val perSweep = ps.map(f).sum
      var n = 0L
      val t0 = System.nanoTime()
      while (System.nanoTime() - t0 < 300000000L) { ps.foreach(f); n += ps.length }
      (n / ((System.nanoTime() - t0) / 1e9), perSweep)
    }
    val byStage = Seq("std" -> Vocab.StageStd, "mfd" -> Vocab.StageMfd, "layout" -> Vocab.StageLayout)
      .map { case (n, st) =>
        val ps = payloads.filter(_(2) == st)
        (n, ps.length, rate(ps)(p => Detect.extract(p).length))
      }
    val (rotRate, rotRegions) =
      rate(payloads)(p => Detect.extractRendered(p, DetectConfig.ReferenceDefault).length)
    val defaultSweepS = byStage.map { case (_, count, (r, _)) => count / r }.sum
    byStage.map { case (n, _, (r, _)) => s"kernel.$n.payloads_per_s" -> r }.toMap ++ Map(
      "default.payloads_per_s" -> payloads.length / defaultSweepS,
      "rotated.payloads_per_s" -> rotRate,
      "default.regions_per_payload" -> byStage.map(_._3._2).sum.toDouble / payloads.length,
      "rotated.regions_per_payload" -> rotRegions.toDouble / payloads.length)
  }

  def layers(run: Run, log: StageLog, wl: Workload, steady: Seq[Window], passS: Double,
             gcS: Double, heapPeakMb: Double, spinBefore: (Double, Double)): Seq[(String, Double)] = {
    val spinAfter = spin(run.cores)

    // extraction layers: the workload's own passes, else a probe on the seed's extract corpus
    val (ex, exWindows, exPassS) = wl match {
      case e: ExtractWorkload => (e, steady, passS)
      case _ =>
        val e = run.open("extract").asInstanceOf[ExtractWorkload]
        e.pass(); e.pass()
        val ws = (1 to 3).map(_ => log.window(e.pass()))
        (e, ws, Main.median(ws.map(_.wallS)))
    }
    val scanS = Main.median((1 to 3).map(_ => timed {
      noop(ex.docsDs.toDF()); noop(ex.mediaDs.toDF())
    }))
    // parquet-sink pass minus noop-sink pass, in back-to-back pairs so host drift cancels
    val writeS = Main.median((1 to 3).map(_ => timed(ex.pass()) - timed(ex.noopPass())))
    val k = kernel(run.seed, ex.docs)
    val payloads = (0L until ex.docs).map(i => GenData.mediaRefs(GenData.doc(run.seed, i)).length).sum
    val path = if (ex.cfg == DetectConfig.Default) "default" else "rotated"

    // operator layers: the workload's own passes, else a probe on the seed's dedup corpus
    val (dd, ddWindows, ddPassS) = wl match {
      case d: DedupWorkload => (d, steady, passS)
      case _ =>
        val d = run.open("dedup").asInstanceOf[DedupWorkload]
        d.pass()
        val ws = Seq(log.window(d.pass()))
        (d, ws, ws.head.wallS)
    }
    val sigW = log.window(noop(DedupOps.simHashSignatures(dd.table)))
    val pairsW = log.window(noop(DedupOps.simHashPairs(dd.table)))
    val nodes = dd.table.select("doc_id").localCheckpoint()
    val edges = DedupOps.simHashPairs(dd.table).select("doc_a", "doc_b").localCheckpoint()
    val ccW = log.window(noop(DedupOps.clustersFromPairs(nodes, edges)))
    val ddJobs = Main.median(ddWindows.map(_.jobs.toDouble))

    Seq(
      "jvm.gc_s" -> gcS,
      "jvm.heap_peak_mb" -> heapPeakMb,
      "host.spin1_s" -> (spinBefore._1 + spinAfter._1) / 2,
      "host.spinN_s" -> (spinBefore._2 + spinAfter._2) / 2,
      "kernel.std.payloads_per_s" -> k("kernel.std.payloads_per_s"),
      "kernel.mfd.payloads_per_s" -> k("kernel.mfd.payloads_per_s"),
      "kernel.layout.payloads_per_s" -> k("kernel.layout.payloads_per_s"),
      "kernel.rotated.payloads_per_s" -> k("rotated.payloads_per_s"),
      "kernel.regions_per_payload" -> k(s"$path.regions_per_payload"),
      "kernel.capacity_fraction" -> (payloads / exPassS) / (k(s"$path.payloads_per_s") * run.cores),
      "pipeline.scan_s" -> scanS,
      "pipeline.media_exchange.wall_s" -> stageMedian(exWindows, mediaExchange)(_.wallS),
      "pipeline.media_exchange.shuffle_write_mb" -> stageMedian(exWindows, mediaExchange)(_.shuffleWriteMb),
      "pipeline.kernel_stage.wall_s" -> stageMedian(exWindows, kernelStage)(_.wallS),
      "pipeline.kernel_stage.task_cpu_s" -> stageMedian(exWindows, kernelStage)(_.cpuS),
      "pipeline.kernel_stage.gc_s" -> stageMedian(exWindows, kernelStage)(_.gcS),
      "pipeline.kernel_stage.records_in" ->
        stageMedian(exWindows, kernelStage)(s => (s.inputRecords + s.shuffleReadRecords).toDouble),
      "pipeline.assembly_stage.wall_s" -> stageMedian(exWindows, assemblyStage)(_.wallS),
      "pipeline.assembly_stage.task_cpu_s" -> stageMedian(exWindows, assemblyStage)(_.cpuS),
      "pipeline.assembly_stage.shuffle_read_mb" -> stageMedian(exWindows, assemblyStage)(_.shuffleReadMb),
      "pipeline.write_s" -> writeS,
      "pipeline.jobs" -> Main.median(steady.map(_.jobs.toDouble)),
      "pipeline.stages" -> Main.median(steady.map(_.stages.length.toDouble)),
      "pipeline.tasks" -> Main.median(steady.map(_.tasks.toDouble)),
      "pipeline.task_cpu_s" -> Main.median(steady.map(_.cpuS)),
      "pipeline.shuffle_write_mb" -> Main.median(steady.map(_.shuffleWriteMb)),
      "pipeline.spill_mb" -> Main.median(steady.map(_.spillMb)),
      "pipeline.idle_s" -> Main.median(steady.map(_.idleS)),
      "operators.signatures_s" -> sigW.wallS,
      "operators.pairs_s" -> pairsW.wallS,
      "operators.pairs_join_records" -> pairsJoinRecords(pairsW, sigW),
      "operators.cc_s" -> ccW.wallS,
      "operators.cc_jobs" -> ccW.jobs.toDouble,
      "operators.jobs" -> ddJobs,
      "operators.s_per_job" -> ddPassS / ddJobs,
      "operators.pairs" -> dd.pairs.length.toDouble,
      "operators.clusters" -> dd.clusters.map(_.cluster_id).distinct.length.toDouble,
      "trace.docs_per_s" -> wl.docs / passS)
  }

  /** Rows shuffled into and out of the band self-join: shuffle records the
    * pairs query writes beyond those its signature computation writes.
    */
  private def pairsJoinRecords(pairs: Window, sigs: Window): Double =
    (pairs.stages.map(_.shuffleWriteRecords).sum - sigs.stages.map(_.shuffleWriteRecords).sum).toDouble
}
