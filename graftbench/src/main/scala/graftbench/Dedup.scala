package graftbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.queries.{DedupQueries, PipelineQueries}

/** The seeded corpus of the dedup workload: 2,500 documents in the
  * sf0.1 `documents` schema and length distribution (10 to 100 words
  * from a 30-word vocabulary, `source = "src" + doc_id % 20`), plus
  * planted near-duplicate families of four. */
object Docs {
  val N = 2500
  val Families = 75
  val FamilySize = 4
  val Vocab: Array[String] = Array("a", "agg", "batch", "big", "column",
    "customer", "data", "fast", "filter", "group", "hash", "join", "key",
    "line", "merge", "order", "part", "query", "row", "scan", "slow",
    "small", "sort", "spark", "stream", "table", "the", "value", "vector",
    "window")
  private val Langs = Array("fr", "es", "zh", "de")

  final case class Doc(doc_id: Long, text: String, lang: String,
      source: String, n_chars: Long)

  /** The documents and the doc ids of each planted family. */
  def generate(seed: Long): (Seq[Doc], Seq[Seq[Long]]) = {
    val r = new java.util.SplittableRandom(seed)
    def words(n: Int): Array[String] = Array.fill(n)(Vocab(r.nextInt(Vocab.length)))
    val ids = Array.tabulate(N)(_.toLong)
    var i = N - 1
    while (i > 0) { // Fisher-Yates: family members land at random ids
      val j = r.nextInt(i + 1)
      val t = ids(i); ids(i) = ids(j); ids(j) = t
      i -= 1
    }
    val text = new Array[Array[String]](N)
    var next = 0
    // a family is a base text and its variants, each a few words off the
    // base: every pair of members clears Jaccard 0.35, so a family is a
    // clique and connected components settle in two rounds on any seed
    val families = (0 until Families).map { _ =>
      val base = words(40 + r.nextInt(61))
      (0 until FamilySize).map { m =>
        val member = base.clone()
        if (m > 0) (0 to member.length / 25).foreach { _ =>
          val at = r.nextInt(member.length)
          member(at) = Vocab((Vocab.indexOf(member(at)) + 1 + r.nextInt(Vocab.length - 1)) % Vocab.length)
        }
        val id = ids(next)
        next += 1
        text(id.toInt) = member
        id
      }
    }
    ids.drop(next).foreach(id => text(id.toInt) = words(10 + r.nextInt(91)))
    val docs = (0 until N).map { id =>
      val t = text(id).mkString(" ")
      val lang = if (r.nextInt(100) < 41) "en" else Langs(r.nextInt(Langs.length))
      Doc(id.toLong, t, lang, s"src${id % 20}", t.length.toLong)
    }
    (docs, families)
  }

  /** Driver-side answer of `dedupClusters`, written from its definition:
    * distinct word trigrams per doc, shingles in more than 100 docs
    * dropped, pairs by inverted index with exact Jaccard >= 0.35 over the
    * kept sets, clusters by union-find labelled with their min doc id. */
  final case class Reference(labels: Map[Long, Long], pairWork: Long, rounds: Int)

  def reference(docs: Seq[Doc]): Reference = {
    val postings = mutable.HashMap.empty[String, mutable.ArrayBuffer[Long]]
    docs.foreach { d =>
      val w = d.text.trim.toLowerCase(java.util.Locale.ROOT).split(" ")
      if (w.length >= 3)
        (0 to w.length - 3).map(i => w(i) + " " + w(i + 1) + " " + w(i + 2)).distinct
          .foreach(s => postings.getOrElseUpdate(s, mutable.ArrayBuffer.empty) += d.doc_id)
    }
    val kept = postings.values.filter(_.size <= PipelineQueries.NgramDfCap).map(_.toArray.sorted).toSeq
    val size = mutable.HashMap.empty[Long, Int]
    kept.foreach(_.foreach(id => size(id) = size.getOrElse(id, 0) + 1))
    val pairWork = kept.map(p => p.length.toLong * (p.length - 1) / 2).sum
    // every co-occurrence as one (a << 32 | b) key; equal keys sort together
    val keys = new Array[Long](pairWork.toInt)
    var k = 0
    kept.foreach { p =>
      var i = 0
      while (i < p.length) {
        var j = i + 1
        while (j < p.length) { keys(k) = (p(i) << 32) | p(j); k += 1; j += 1 }
        i += 1
      }
    }
    java.util.Arrays.sort(keys)
    val pairs = mutable.ArrayBuffer.empty[(Long, Long)]
    var i = 0
    while (i < keys.length) {
      var j = i
      while (j < keys.length && keys(j) == keys(i)) j += 1
      val (a, b) = (keys(i) >>> 32, keys(i) & 0xffffffffL)
      val common = (j - i).toDouble
      if (common / (size(a) + size(b) - common) >= 0.35) pairs += ((a, b))
      i = j
    }
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val labels = parent.keys.toSeq.map(x => x -> find(x)).toMap
    Reference(labels, pairWork, ccRounds(pairs.toSeq))
  }

  /** Rounds `dedupClusters` runs on these pairs: min-label propagation
    * plus one pointer jump per round, until a round changes no label
    * (that last round counts). */
  def ccRounds(pairs: Seq[(Long, Long)]): Int = {
    val nbrs = (pairs ++ pairs.map(_.swap)).groupMap(_._1)(_._2)
    var labels = nbrs.keys.map(v => v -> v).toMap
    var rounds = 0
    var changed = true
    while (changed && rounds < 50) {
      val adopted = labels.map { case (v, c) => v -> math.min(c, nbrs(v).map(labels).min) }
      val next = adopted.map { case (v, c) => v -> math.min(c, adopted.getOrElse(c, c)) }
      changed = next.exists { case (v, c) => c != labels(v) }
      labels = next
      rounds += 1
    }
    rounds
  }
}

/** dedup: one op is `DedupQueries.dedupClusters` over a seeded
  * `documents.parquet`, collected. */
final class Dedup extends Workload {
  type Out = Array[(Long, Long)]

  private var spark: SparkSession = _
  private var dir: String = _
  private var families: Seq[Seq[Long]] = Nil
  private var ref: Docs.Reference = _

  def workUnit = "doc"
  def nominalOpMs = 2700.0

  def setup(s: SparkSession, seed: Long, scratch: Path): Unit = {
    spark = s
    dir = scratch.resolve("corpus").toAbsolutePath.toString
    val (docs, fams) = Docs.generate(seed)
    families = fams
    val session = spark
    import session.implicits._
    docs.toDS().coalesce(1).write.parquet(s"$dir/documents.parquet")
    ref = Docs.reference(docs)
  }

  def op(i: Int): Array[(Long, Long)] =
    DedupQueries.dedupClusters(spark, dir).collect().map(r => (r.getLong(0), r.getLong(1)))

  /** Drops the shingle memo and the retained cluster checkpoints, so
    * every op pays its whole pipeline. */
  override def isolate(s: SparkSession): Unit = {
    PipelineQueries.evictShingleCache()
    DedupQueries.releaseClusterCheckpoints()
    super.isolate(s)
  }

  def check(out: Array[(Long, Long)]): Option[String] = {
    val got = out.toMap
    val split = families.filter(f => f.map(got.get).distinct.size != 1 || !got.contains(f.head))
    if (split.nonEmpty) Some(s"${split.size} planted families not in one cluster, e.g. ${split.head}")
    else if (got.size != out.length || got != ref.labels)
      Some(s"labels differ from the driver reference on " +
        s"${(got.keySet ++ ref.labels.keySet).count(k => got.get(k) != ref.labels.get(k))} docs")
    else None
  }

  def work(out: Array[(Long, Long)]): Double = Docs.N

  /** Shingling (the memoized universe materialised), pair stage over the
    * warm shingles, then the clusters call, which re-derives its pairs
    * from the same warm shingles: the connected-components self time is
    * the clusters span minus the pair span. */
  def traced(i: Int, stage: Stager): (Array[(Long, Long)], Map[String, Double]) = {
    val keptRows = stage("shingle")(PipelineQueries.keptShingles(spark, dir).count())
    val pairs = stage("pairs")(PipelineQueries.dedupNgram(spark, dir).collect().length)
    val out = stage("clusters")(op(i))
    val cc = stage.ms("clusters") - stage.ms("pairs")
    (out, Map(
      "pipeline.shingle_ms" -> stage.ms("shingle"),
      "pipeline.kept_shingles" -> keptRows.toDouble,
      "pipeline.pair_work" -> ref.pairWork.toDouble,
      "pipeline.pairs_ms" -> stage.ms("pairs"),
      "pipeline.kept_pairs" -> pairs.toDouble,
      "dedup.cc_ms" -> cc,
      "dedup.cc_rounds" -> ref.rounds.toDouble,
      "trace.stage_ms" -> (stage.ms("shingle") + stage.ms("pairs") + cc)))
  }
}
