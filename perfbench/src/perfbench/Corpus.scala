package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.util.SplittableRandom

import org.apache.spark.sql.{SaveMode, SparkSession}

import graft.pipeline.GenData

/** Seeded benchmark inputs, written once and cached by seed + generator
  * fingerprint, so a generator change can never reuse a stale corpus.
  *
  *  - extract corpus: `GenData` docs + media, range-partitioned on
  *    doc_id / media_ref into 16 files each;
  *  - dedup corpus: a `(doc_id, text)` table with the make-up of the sf0.1
  *    `documents` table (10..100 tokens over a 30-word vocabulary, 5% of docs
  *    a copy of an earlier doc plus one extra token), generated here.
  */
object Corpus {
  final val ExtractDocs = 12000L
  final val DedupDocs = 5000
  /** Bump on any change to [[dedupTexts]]. */
  final val DedupVersion = "d1"
  /** Cached corpora kept; older ones are evicted, so disk use stays bounded. */
  final val Keep = 24

  def extractKey(seed: Long): String = s"extract-n$ExtractDocs-s$seed-${GenData.Fingerprint}"
  def dedupKey(seed: Long): String = s"dedup-n$DedupDocs-s$seed-$DedupVersion"

  private val words = Vector(
    "a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter", "group",
    "hash", "join", "key", "line", "merge", "order", "part", "query", "row", "scan",
    "slow", "small", "sort", "spark", "stream", "table", "the", "value", "vector", "window")

  def dedupTexts(seed: Long): Array[String] = {
    val rng = new SplittableRandom(seed)
    val texts = new Array[String](DedupDocs)
    var i = 0
    while (i < DedupDocs) {
      texts(i) =
        if (i >= 50 && rng.nextInt(20) == 0) texts(rng.nextInt(i)) + " dup"
        else Seq.fill(10 + rng.nextInt(91))(words(rng.nextInt(words.length))).mkString(" ")
      i += 1
    }
    texts
  }

  /** Ensure the corpus `key` exists under `root`; returns (dir, seconds spent
    * writing it, 0 when it was cached).
    */
  def ensure(root: File, key: String, write: String => Unit): (File, Double) = {
    val dir = new File(root, key)
    val done = new File(dir, "_PREPARED")
    if (done.exists()) {
      dir.setLastModified(System.currentTimeMillis())
      return (dir, 0.0)
    }
    val t0 = System.nanoTime()
    val tmp = new File(root, key + ".tmp")
    Fs.delete(tmp)
    write(tmp.getPath)
    Fs.delete(dir)
    Files.move(tmp.toPath, dir.toPath, StandardCopyOption.ATOMIC_MOVE)
    Files.createFile(done.toPath)
    val secs = (System.nanoTime() - t0) / 1e9
    val cached = Option(root.listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.isDirectory && new File(f, "_PREPARED").exists())
      .sortBy(f => -f.lastModified())
    cached.drop(Keep).foreach(Fs.delete)
    (dir, secs)
  }

  /** Docs and media from `spark.range` split into 16 contiguous id ranges:
    * each file holds one doc_id range and the media_refs of exactly those
    * docs, the layout `ScalingBench prep` gets from `repartitionByRange`,
    * without its sampling pass and shuffle.
    */
  def writeExtract(spark: SparkSession, seed: Long)(out: String): Unit = {
    import spark.implicits._
    val ids = spark.range(0, ExtractDocs, 1, 16)
    ids.map(i => GenData.doc(seed, i)).write.mode(SaveMode.Overwrite).parquet(s"$out/docs")
    ids.flatMap(i => GenData.media(seed, GenData.doc(seed, i)))
      .write.mode(SaveMode.Overwrite).parquet(s"$out/media")
  }

  def writeDedup(spark: SparkSession, seed: Long)(out: String): Unit = {
    import spark.implicits._
    dedupTexts(seed).zipWithIndex.map { case (t, i) => (i.toLong, t) }.toSeq
      .toDF("doc_id", "text").repartition(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$out/documents.parquet")
  }
}

object Fs {
  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(delete)
    f.delete()
  }
}
