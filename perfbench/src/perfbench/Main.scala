package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark JVM entry; `perfbench/run.py` drives it. Modes:
  *
  *   prep     --workload W --seed S --root DIR [--all 1]
  *   run      --workload W --seed S --root DIR --out DIR --cores N
  *            --seconds T --trace 0|1 --t0 NS
  *
  * `--t0` is the epoch time (ns) at which the driving script started this
  * JVM, so set-up time counts JVM start. Every mode prints one JSON object
  * as its last stdout line.
  */
object Main {
  /** Steady passes a run always times, however long they take. */
  final val MinSteady = 4

  def main(argv: Array[String]): Unit = {
    val mode = argv.head
    val a = argv.tail.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val out = mode match {
      case "prep" => prep(a)
      case "run"  => measure(a)
    }
    println(out)
    System.out.flush()
  }

  def session(cores: Int, name: String): SparkSession = {
    val spark = graft.Sessions.local(cores, s"perfbench-$name")
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def prep(a: Map[String, String]): String = {
    val root = new File(a("root"))
    val seed = a("seed").toLong
    val names = if (a.get("all").contains("1")) Seq("extract", "dedup") else Seq(a("workload"))
    val keys = names.map(Workloads.corpusKey(_, seed))
    var spark: SparkSession = null
    val secs = names.zip(keys).map { case (name, key) =>
      Corpus.ensure(root, key, { dir =>
        if (spark == null) spark = session(a("cores").toInt, "prep")
        Workloads.corpusWriter(name, spark, seed)(dir)
      })._2
    }
    if (spark != null) spark.stop()
    Json.obj("prep_s" -> secs.sum)
  }

  private def epochNs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  private def measure(a: Map[String, String]): String = {
    val t0 = a("t0").toLong
    val name = a("workload")
    val seed = a("seed").toLong
    val cores = a("cores").toInt
    val spark = session(cores, name)
    val run = Run(spark, seed, cores, new File(a("root")), new File(a("out")))
    val (wl, inputS) = timed(run.open(name))
    val (_, coldS) = timed(wl.pass())
    val setupS = (epochNs() - t0) / 1e9
    val setup = Seq("setup_s" -> setupS, "setup.session_s" -> (setupS - inputS - coldS),
      "setup.input_s" -> inputS, "setup.cold_pass_s" -> coldS)

    val trace = a("trace") == "1"
    val seconds = a("seconds").toDouble
    val log = if (trace) Some(new StageLog(spark.sparkContext)) else None
    log.foreach(spark.sparkContext.addSparkListener)
    val spinBefore = if (trace) Some(Trace.spin(cores)) else None

    val gc0 = gcSeconds()
    var heapPeakMb = 0.0
    val walls = ArrayBuffer.empty[Double]
    val windows = ArrayBuffer.empty[Window]
    var failed = 0
    val start = System.nanoTime()
    while (walls.length < wl.warmPasses + MinSteady || (System.nanoTime() - start) / 1e9 < seconds) {
      try {
        log match {
          case Some(l) => val w = l.window(wl.pass()); windows += w; walls += w.wallS
          case None    => walls += timed(wl.pass())._2
        }
      } catch {
        case e: Exception =>
          failed += 1
          walls += Double.NaN
          System.err.println(s"perfbench: pass failed: $e")
      }
      // heap in use as each pass ends; the largest reading is the reported peak
      heapPeakMb = math.max(heapPeakMb,
        ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0))
    }
    val gcS = gcSeconds() - gc0
    val rssMb = peakRssMb()
    val steady = walls.drop(wl.warmPasses).filterNot(_.isNaN).toSeq
    val passS = median(steady)
    val docsPerS = wl.docs / passS
    System.err.println(f"perfbench: $name seed=$seed passes=${walls.map(w => f"$w%.3f").mkString(",")} " +
      f"docs=${wl.docs} docs_per_s=$docsPerS%.1f setup_s=$setupS%.2f")

    val (errs, checkS) = timed(
      (if (failed < walls.length) wl.check() else Seq("every pass failed")) ++ SelfTest.run(seed))
    System.err.println(f"perfbench: checks took $checkS%.2f s")
    errs.take(10).foreach(e => System.err.println(s"perfbench: check: $e"))
    val e2e = Seq("docs_per_s" -> docsPerS, "peak_rss_mb" -> rssMb) ++ setup
    val layers =
      if (!trace) Nil
      else Trace.layers(run, log.get, wl, windows.drop(wl.warmPasses).toSeq,
        passS, gcS, heapPeakMb, spinBefore.get)
    spark.stop()
    s"""{"correct":${errs.isEmpty},"attempted":${walls.length},"failed":$failed,""" +
      s""""metrics":${Json.obj(e2e ++ layers: _*)}}"""
  }

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val f = new File("/proc/self/status")
    if (!f.exists()) return Double.NaN
    val src = scala.io.Source.fromFile(f)
    try src.getLines().collectFirst { case l if l.startsWith("VmHWM:") =>
      l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN)
    finally src.close()
  }
}

object Json {
  def value(v: Any): String = v match {
    case d: Double  => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case s: String  => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
  }
  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => value(k) + ":" + value(v) }.mkString("{", ",", "}")
}
