package graft.perfbench

import java.util.SplittableRandom

/** Seeded input generators. Every generator draws from its own stream,
  * derived from the workload seed and a tag, so a workload's inputs
  * depend on the seed alone — never on timing or on how many units the
  * previous run managed. The program under test only ever receives the
  * DataFrames built from these values. */
object Gen {
  def rng(seed: Long, tag: String, idx: Long = 0L): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ tag.hashCode.toLong * 31L ^ idx)

  // ---- events (lake_mixed) -------------------------------------------------

  /** Event types with a skewed mix: the head type takes over half. */
  val EventTypes: Array[String] = Array("view", "click", "cart", "purchase", "refund")
  private val TypeCdf = Array(0.55, 0.80, 0.90, 0.97, 1.0)
  val Users = 5000
  /** Event time origin: 2024-03-01T00:00:00Z. */
  val T0Sec = 1709251200L

  final case class Event(id: Long, etype: String, tsSec: Long, user: Long,
      value: Double, props: String)

  def eventType(r: SplittableRandom): String = {
    val u = r.nextDouble()
    EventTypes(TypeCdf.indexWhere(u < _))
  }

  /** Power-law user ids: a few users own most events (key skew). */
  def user(r: SplittableRandom): Long =
    1L + (Users * math.pow(r.nextDouble(), 3)).toLong

  /** Values are multiples of 0.25, so sums of doubles are exact and
    * checks can compare them for equality. */
  def value(r: SplittableRandom): Double = r.nextInt(40000) / 4.0

  private val Devices = Array("ios", "android", "web")

  def event(r: SplittableRandom, id: Long, tsLo: Long, tsSpan: Int): Event = {
    val props = s"""{"device":"${Devices(r.nextInt(3))}",""" +
      s""""campaign":"c${r.nextInt(40)}","n":${r.nextInt(9)}}"""
    Event(id, eventType(r), tsLo + r.nextInt(tsSpan), user(r), value(r), props)
  }

  // ---- curation corpus and embeddings (curation_batch) -----------------------

  private val Stopwords = Array("the", "of", "and", "to", "in", "is", "that",
    "it", "for", "was", "on", "with", "as", "be", "by", "at", "this", "from")

  final case class Corpus(docs: Array[(Long, String)], originals: Set[Long],
      nearPairs: Set[(Long, Long)], exactDups: Int, invalid: Int)

  /** `n` original documents, then planted exact copies, near copies (one
    * token in 60 replaced) and invalid rows (empty or NULL text), all
    * with ids above the originals so every original is its group's
    * survivor. */
  def corpus(seed: Long, n: Int, dupShare: Double, nearShare: Double,
      invalidShare: Double): Corpus = {
    val r = rng(seed, "corpus")
    val vocab = Array.fill(3000) {
      val len = 3 + r.nextInt(7)
      new String(Array.fill(len)(('a' + r.nextInt(26)).toChar))
    }
    def word(): String =
      if (r.nextDouble() < 0.3) Stopwords(r.nextInt(Stopwords.length))
      else vocab((vocab.length * math.pow(r.nextDouble(), 2)).toInt)
    val originals = Array.tabulate(n) { i =>
      (i + 1L, Array.fill(60 + r.nextInt(80))(word()))
    }
    var next = n + 1L
    val docs = Array.newBuilder[(Long, String)]
    originals.foreach { case (id, ws) => docs += id -> ws.mkString(" ") }
    val nExact = (n * dupShare).toInt
    for (_ <- 0 until nExact) {
      docs += next -> originals(r.nextInt(n))._2.mkString(" "); next += 1
    }
    val near = Set.newBuilder[(Long, Long)]
    for (_ <- 0 until (n * nearShare).toInt) {
      val (oid, ws) = originals(r.nextInt(n))
      val edited = ws.clone()
      for (_ <- 0 until math.max(1, ws.length / 60))
        edited(r.nextInt(ws.length)) = vocab(r.nextInt(vocab.length))
      docs += next -> edited.mkString(" ")
      near += oid -> next; next += 1
    }
    val nInvalid = (n * invalidShare).toInt
    for (i <- 0 until nInvalid) {
      docs += next -> (if (i % 2 == 0) "" else null); next += 1
    }
    Corpus(docs.result(), originals.map(_._1).toSet, near.result(), nExact,
      nInvalid)
  }

  final case class Vectors(corpus: Array[(Long, Array[Float])],
      queries: Array[(Long, Array[Float])], clusterOf: Map[Long, Int])

  /** `n` vectors around `clusters` random unit centroids (noise well
    * below the centroid spacing), plus queries drawn near the centroids.
    * Query ids start at 10^9 so they never collide with corpus ids. */
  def vectors(seed: Long, n: Int, dim: Int, clusters: Int,
      queries: Int): Vectors = {
    val r = rng(seed, "vectors")
    def gauss(): Double = {
      var s = 0.0
      for (_ <- 0 until 12) s += r.nextDouble()
      s - 6.0
    }
    val centroids = Array.fill(clusters) {
      val v = Array.fill(dim)(gauss())
      val norm = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / norm)
    }
    def near(c: Int, sigma: Double): Array[Float] =
      centroids(c).map(x => (x + sigma * gauss()).toFloat)
    val corpus = Array.tabulate(n) { i => (i + 1L, near(i % clusters, 0.05)) }
    val qs = Array.tabulate(queries) { i =>
      (1000000000L + i, near(i % clusters, 0.05))
    }
    val clusterOf = (corpus.map(_._1).zipWithIndex.map { case (id, i) =>
      id -> i % clusters } ++ qs.map(_._1).zipWithIndex.map { case (id, i) =>
      id -> i % clusters }).toMap
    Vectors(corpus, qs, clusterOf)
  }
}
