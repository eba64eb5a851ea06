package perfbench

import graft.schema.{Doc, ExtractedDoc, OutSpan, Params, Vocab}

/** Output checks. Each recomputes the answer independently of the engine's
  * Spark path (the straight-line `Oracle`, a brute-force pair scan, a
  * union-find) instead of comparing against stored output, so a change that
  * truly corrects the method still passes. Every check returns its error
  * messages; empty means correct.
  */
object Checks {
  /** Near-duplicate definition the dedup check holds the program to. */
  final val MaxHamming = 3

  /** Minimum score a region of this kind can carry (schema.Params). */
  private def threshold(kind: String): Double =
    if (kind == Vocab.StdKind) Params.BoxThresh else Params.ConfThresh

  /** Per-doc properties that hold for every correct extraction. */
  def spanProperties(doc: Doc, spans: Seq[OutSpan]): Seq[String] = {
    val id = doc.doc_id
    val errs = Seq.newBuilder[String]
    if (spans.map(_.order) != spans.indices)
      errs += s"$id: order is not 0..${spans.length - 1}"
    val textIn = doc.spans.filter(_.kind != "media").sortBy(_.offset).map(s => (s.kind, s.text))
    // pass-through text spans are the ones without a media_ref
    val textOut = spans.filter(_.media_ref.isEmpty).map(s => (s.kind, s.text))
    if (textOut != textIn) errs += s"$id: text spans differ from the input's in offset order"
    val mediaIdx = doc.spans.filter(_.kind == "media").sortBy(_.offset)
      .map(_.media_ref).zipWithIndex.toMap
    val regions = spans.filter(_.media_ref.nonEmpty)
    val idx = regions.map(r => mediaIdx.getOrElse(r.media_ref, -1))
    if (idx.contains(-1)) errs += s"$id: region media_ref not among the doc's media spans"
    else if (idx != idx.sorted) errs += s"$id: regions out of media order"
    regions.foreach { r =>
      val score = r.text.split(";")(1).toDouble
      if (score < threshold(r.kind)) errs += s"$id: ${r.kind} score $score below threshold"
    }
    errs.result()
  }

  /** Every input doc exactly once; spans equal the oracle's; properties hold. */
  def extract(inputs: Seq[Doc], oracle: Doc => ExtractedDoc, got: Seq[ExtractedDoc]): Seq[String] = {
    val errs = Seq.newBuilder[String]
    val byId = got.groupBy(_.doc_id)
    byId.collect { case (id, ds) if ds.length > 1 => s"$id: appears ${ds.length} times" }
      .foreach(errs += _)
    val inputIds = inputs.map(_.doc_id).toSet
    byId.keys.filterNot(inputIds).foreach(id => errs += s"$id: not an input doc")
    inputs.foreach { doc =>
      byId.get(doc.doc_id) match {
        case None => errs += s"${doc.doc_id}: missing from the output"
        case Some(ds) =>
          val spans = ds.head.spans
          if (spans != oracle(doc).spans) errs += s"${doc.doc_id}: spans differ from the oracle"
          errs ++= spanProperties(doc, spans)
      }
    }
    errs.result()
  }

  /** All pairs (a < b) with Hamming distance <= maxHamming, by brute force. */
  def brutePairs(sigs: Seq[(Long, Long)], maxHamming: Int): Set[(Long, Long)] = {
    val s = sigs.sortBy(_._1).toArray
    val out = Set.newBuilder[(Long, Long)]
    var i = 0
    while (i < s.length) {
      var j = i + 1
      while (j < s.length) {
        if (java.lang.Long.bitCount(s(i)._2 ^ s(j)._2) <= maxHamming) out += ((s(i)._1, s(j)._1))
        j += 1
      }
      i += 1
    }
    out.result()
  }

  /** Union-find over `ids`; every id's label is its component's min id. */
  def components(ids: Seq[Long], pairs: Iterable[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.HashMap(ids.map(i => i -> i): _*)
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var y = x
      while (parent(y) != r) { val n = parent(y); parent(y) = r; y = n }
      r
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    ids.map(i => i -> find(i)).toMap
  }

  /** One cluster row of `dupClustersOf`. */
  final case class Cluster(doc_id: Long, cluster_id: Long, cluster_size: Long, is_keeper: Int)

  /** The pair set against a brute-force scan of the program's signatures;
    * the clusters against union-find over those pairs.
    */
  def dedup(ids: Seq[Long], sigs: Seq[(Long, Long)], pairs: Seq[(Long, Long)],
            clusters: Seq[Cluster]): Seq[String] = {
    val errs = Seq.newBuilder[String]
    val expected = brutePairs(sigs, MaxHamming)
    val gotPairs = pairs.toSet
    if (gotPairs.size != pairs.length) errs += s"${pairs.length - gotPairs.size} duplicate pairs"
    val missing = expected -- gotPairs
    val extra = gotPairs -- expected
    if (missing.nonEmpty) errs += s"${missing.size} pairs missing, e.g. ${missing.head}"
    if (extra.nonEmpty) errs += s"${extra.size} pairs not within Hamming $MaxHamming, e.g. ${extra.head}"
    val label = components(ids, expected)
    val size = label.values.groupBy(identity).map { case (l, m) => l -> m.size.toLong }
    val byDoc = clusters.groupBy(_.doc_id)
    if (byDoc.size != clusters.length) errs += "a doc appears in more than one cluster row"
    val idSet = ids.toSet
    byDoc.keys.filterNot(idSet).foreach(id => errs += s"$id: not an input doc")
    ids.foreach { id =>
      byDoc.get(id).map(_.head) match {
        case None => errs += s"$id: missing from the clusters"
        case Some(c) =>
          if (c.cluster_id != label(id)) errs += s"$id: cluster ${c.cluster_id}, union-find says ${label(id)}"
          if (c.cluster_size != size(label(id))) errs += s"$id: cluster size ${c.cluster_size}, expected ${size(label(id))}"
      }
    }
    clusters.groupBy(_.cluster_id).foreach { case (cid, members) =>
      val keepers = members.count(_.is_keeper == 1)
      if (keepers != 1) errs += s"cluster $cid has $keepers keepers"
    }
    errs.result()
  }
}

/** Self-test of the checks: each must accept a correct output and reject a
  * planted defect, so a check that can never fail is caught. Returns the
  * defects a check let through (empty when every check works).
  */
object SelfTest {
  import graft.pipeline.{GenData, Oracle}

  def run(seed: Long): Seq[String] = {
    val escaped = Seq.newBuilder[String]
    def expect(name: String, errs: Seq[String], shouldFail: Boolean): Unit =
      if (errs.nonEmpty != shouldFail)
        escaped += (if (shouldFail) s"$name: defect not detected" else s"$name: correct output rejected: ${errs.head}")

    // extraction: the oracle's own output, then one doc perturbed
    val docs = (0L until 40L).map(i => GenData.doc(seed, i))
    val oracle = (d: Doc) => Oracle.extract(d, ref => GenData.payload(seed, ref))
    val good = docs.map(oracle)
    expect("extract/correct", Checks.extract(docs, oracle, good), shouldFail = false)
    val k = good.indexWhere(d => d.spans.length >= 2 &&
      d.spans(0).copy(order = 0) != d.spans(1).copy(order = 0))
    def withSpans(f: Seq[OutSpan] => Seq[OutSpan]) =
      good.updated(k, good(k).copy(spans = f(good(k).spans)))
    expect("extract/dropped span", Checks.extract(docs, oracle, withSpans(s =>
      s.drop(1).zipWithIndex.map { case (sp, i) => sp.copy(order = i) })), shouldFail = true)
    expect("extract/swapped spans", Checks.extract(docs, oracle, withSpans(s =>
      s.updated(0, s(1).copy(order = 0)).updated(1, s(0).copy(order = 1)))), shouldFail = true)
    expect("extract/duplicated doc", Checks.extract(docs, oracle, good :+ good(k)), shouldFail = true)

    // dedup: 20 groups of 3 signatures; the second of each group is at
    // Hamming 3 from the first (a pair), the third at 4 (not a pair)
    val sigs = (0L until 60L).map { i =>
      val base = new java.util.SplittableRandom(seed + i / 3).nextLong() >>> 4
      i -> (i % 3 match { case 0 => base; case 1 => base ^ 0x7L; case _ => base ^ (0xfL << 40) })
    }
    val ids = sigs.map(_._1)
    val pairs = Checks.brutePairs(sigs, Checks.MaxHamming).toSeq.sorted
    val label = Checks.components(ids, pairs)
    val size = label.values.groupBy(identity).map { case (l, m) => l -> m.size.toLong }
    val clusters = ids.map(i => Checks.Cluster(i, label(i), size(label(i)), if (label(i) == i) 1 else 0))
    expect("dedup/correct", Checks.dedup(ids, sigs, pairs, clusters), shouldFail = false)
    if (pairs.isEmpty) escaped += "dedup self-test has no pairs to remove"
    else expect("dedup/missing pair", Checks.dedup(ids, sigs, pairs.tail, clusters), shouldFail = true)
    val cids = clusters.map(_.cluster_id).distinct
    val (c1, c2) = (cids(0), cids(1))
    val mergedSize = size(c1) + size(c2)
    val merged = clusters.map { c =>
      if (c.cluster_id == c1 || c.cluster_id == c2)
        c.copy(cluster_id = c1, cluster_size = mergedSize, is_keeper = if (c.doc_id == c1) 1 else 0)
      else c
    }
    expect("dedup/merged clusters", Checks.dedup(ids, sigs, pairs, merged), shouldFail = true)
    escaped.result()
  }
}
