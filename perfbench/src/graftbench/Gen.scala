package graftbench

import java.security.MessageDigest
import java.util.SplittableRandom

/** Seeded input generator. Pure: the same (workload, seed) gives the same
  * arrays, and [[generate]] hashes them with SHA-256 in canonical byte order,
  * so two runs can show they measured the same inputs. No Spark here —
  * [[Main]] writes the arrays to parquet before anything is timed. */
object Gen {

  /** Sizes, fixed per workload so that every seed does the same amount of
    * work; only the content varies with the seed. */
  object Sizes {
    val Dim = 64
    val Clusters = 64
    // ingest_search
    val IngestBase = 8000
    val IngestBatch = 2000
    val IngestBatches = 3
    val IngestReplayShare = 0.2
    val IngestNlist = 16
    val IngestQueries = 2048
    // corpus_curate
    val Docs = 2000
    val DocDim = 32
    val CurateNlist = 16
    val Families = 100
    val Boilerplate = 1100
    val ShortDocShare = 0.1
    // corpus_curate's link graph
    val Nodes = 6000
    val Edges = 30000
    val Hubs = 4
  }

  final class Hasher {
    private val md = MessageDigest.getInstance("SHA-256")
    private val buf = java.nio.ByteBuffer.allocate(8)
    def long(x: Long): Unit = { buf.clear(); buf.putLong(x); md.update(buf.array()) }
    def float(x: Float): Unit = long(java.lang.Float.floatToIntBits(x).toLong)
    def str(s: String): Unit = {
      val b = s.getBytes("UTF-8"); long(b.length.toLong); md.update(b)
    }
    def hex: String = md.digest().map(b => f"${b & 0xff}%02x").mkString.take(16)
  }

  private def gaussian(r: SplittableRandom): Double = {
    // Box–Muller over the generator's own doubles: no JDK default method
    // whose algorithm could change between releases
    val u = 1.0 - r.nextDouble()
    val v = r.nextDouble()
    math.sqrt(-2.0 * math.log(u)) * math.cos(2 * math.Pi * v)
  }

  private def normalize(v: Array[Float]): Array[Float] = {
    var s = 0.0; var i = 0
    while (i < v.length) { s += v(i).toDouble * v(i); i += 1 }
    val n = math.sqrt(s).toFloat
    v.map(_ / n)
  }

  /** Seed of the inputs' fixed structure — the mixture centres and the
    * boilerplate template — which every `--seed` shares, so that each seed
    * does the same shape of work (the same hot buckets, the same cell
    * layout) and only the members drawn around that structure vary. */
  val StructureSeed = 0x6a09e667L

  /** Gaussian-mixture unit vectors around `k` unit centres. */
  final class Mixture(dim: Int, k: Int, spread: Double) {
    private val r = new SplittableRandom(StructureSeed + dim)
    val centres: Array[Array[Float]] =
      Array.fill(k)(normalize(Array.fill(dim)(gaussian(r).toFloat)))
    def around(c: Int, rr: SplittableRandom): Array[Float] =
      normalize(centres(c).map(x => (x + spread * gaussian(rr)).toFloat))
  }

  /** Zipf(s) over [0, n): the hot-skewed cluster choice of the queries. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = (1 to n).map(i => 1.0 / math.pow(i, s))
      val t = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / t).toArray
    }
    def draw(r: SplittableRandom): Int = {
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  final case class Vectors(ids: Array[Long], vecs: Array[Array[Float]]) {
    def hashInto(h: Hasher): Unit = {
      ids.foreach(h.long); vecs.foreach(_.foreach(h.float))
    }
  }

  /** ingest_search: a base corpus, append batches (a share of each batch
    * replays ids already stored, with their stored vectors) and held-out
    * queries, drawn hot-skewed over the mixture's clusters. */
  final case class Ingest(base: Vectors, batches: Seq[Vectors], queries: Vectors,
      newPerBatch: Int)

  def ingest(seed: Long): Ingest = {
    import Sizes._
    val mix = new Mixture(Dim, Clusters, 0.08)
    val r = new SplittableRandom(seed * 31 + 2)
    val total = IngestBase + IngestBatches * IngestBatch
    // members spread evenly over the clusters, so the IVF cells — and the
    // work a search does — keep the same shape from seed to seed
    val all = Array.tabulate(total)(i => mix.around(i % Clusters, r))
    val base = Vectors(Array.tabulate(IngestBase)(_.toLong), all.take(IngestBase))
    val replays = (IngestBatch * IngestReplayShare).toInt
    val fresh = IngestBatch - replays
    var next = IngestBase
    val batches = (0 until IngestBatches).map { _ =>
      val newIds = (next until next + fresh).map(_.toLong)
      val oldIds = Array.fill(replays)(r.nextInt(next).toLong)
        .distinct
      next += fresh
      val ids = newIds ++ oldIds
      Vectors(ids.toArray, ids.map(i => all(i.toInt)).toArray)
    }
    val zipf = new Zipf(Clusters, 1.1)
    val queries = Vectors(Array.tabulate(IngestQueries)(i => 1000000L + i),
      Array.fill(IngestQueries)(mix.around(zipf.draw(r), r)))
    Ingest(base, batches, queries, fresh)
  }

  /** corpus_curate: documents with a known quality-gate outcome, planted
    * near-dup families, exact copies and one boilerplate family larger
    * than Dedup's bucket cap; each document carries an embedding, and the
    * members of a family carry near-identical embeddings. The crawl's link
    * graph rides along. */
  final case class Corpus(
      ids: Array[Long], texts: Array[String], langs: Array[String],
      vecs: Array[Array[Float]],
      plantedPairs: Set[(Long, Long)],   // near-dup pairs inside families
      failsGate: Set[Long],              // too short for the quality gate
      links: Graph)                      // the crawl's link graph

  val Stopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is", "with")

  def corpus(seed: Long): Corpus = {
    import Sizes._
    val r = new SplittableRandom(seed * 31 + 3)
    val letters = "abcdefghijklmnopqrstuvwxyz"
    val vocab = Array.fill(5000) {
      val n = 3 + r.nextInt(7)
      (0 until n).map(_ => letters.charAt(r.nextInt(26))).mkString
    }
    def words(n: Int): Array[String] = Array.fill(n) {
      if (r.nextInt(5) == 0) Stopwords(r.nextInt(Stopwords.size))
      else vocab(r.nextInt(vocab.length))
    }
    def edit(ws: Array[String], edits: Int): Array[String] = {
      val c = ws.clone()
      (0 until edits).foreach(_ => c(r.nextInt(c.length)) = vocab(r.nextInt(vocab.length)))
      c
    }
    val mix = new Mixture(DocDim, Clusters, 0.1)
    val texts = new Array[String](Docs)
    val vecs = new Array[Array[Float]](Docs)
    val planted = Set.newBuilder[(Long, Long)]
    val fails = scala.collection.mutable.Set.empty[Long]
    var i = 0
    def emit(ws: Array[String], v: Array[Float]): Int = {
      texts(i) = ws.mkString(" "); vecs(i) = v; i += 1; i - 1
    }
    // boilerplate: identical copies of one template, more than Dedup's
    // bucket cap of 1024, so every MinHash and SimHash bucket of the
    // family is over the cap and must be dropped rather than paired. The
    // template and its ids are the same for every seed, so the hot
    // buckets land on the same reducers in every run
    val template = {
      val fixed = new SplittableRandom(StructureSeed)
      Array.fill(60)(if (fixed.nextInt(5) == 0) Stopwords(fixed.nextInt(Stopwords.size))
        else (0 until 3 + fixed.nextInt(7)).map(_ => letters.charAt(fixed.nextInt(26))).mkString)
    }
    // embeddings cycle through the clusters (see `ingest`)
    def vec(): Array[Float] = mix.around(i % Clusters, r)
    (0 until Boilerplate).foreach(_ => emit(template, vec()))
    // near-dup families of 2–4 members: 2 word edits in 60–100 words keep
    // the 3-shingle Jaccard near 0.85, far above the 0.5 verify threshold
    (0 until Families).foreach { _ =>
      val ws = words(60 + r.nextInt(41))
      val v = vec()
      val members = (0 until 2 + r.nextInt(3)).map { m =>
        emit(if (m == 0) ws else edit(ws, 2),
          normalize(v.map(x => (x + 0.002 * gaussian(r)).toFloat)))
      }
      for (a <- members; b <- members if a < b) planted += ((a.toLong, b.toLong))
    }
    // exact copies of singles, then singles; a known share is too short
    // to pass the quality gate's minWords = 20
    val copies = 100
    val singles = Docs - i - copies
    val firstSingle = i
    (0 until singles).foreach { _ =>
      val short = r.nextDouble() < ShortDocShare
      val id = emit(words(if (short) 8 + r.nextInt(8) else 30 + r.nextInt(71)),
        vec())
      if (short) fails += id.toLong
    }
    (0 until copies).foreach { _ =>
      val src = firstSingle + r.nextInt(singles)
      val id = emit(texts(src).split(" "), vec())
      if (fails.contains(src.toLong)) fails += id.toLong
    }
    val langs = Array.tabulate(Docs)(j => if (j % 4 == 0) "de" else "en")
    Corpus(Array.tabulate(Docs)(_.toLong), texts, langs, vecs,
      planted.result(), fails.toSet, graph(seed))
  }

  /** The link graph: a skewed directed graph. A few mega-hubs take a large
    * share of the edge endpoints, the rest attach preferentially; every
    * node has at least one out-edge, so PageRank leaks no dangling mass. */
  final case class Graph(src: Array[Long], dst: Array[Long], nodes: Int, hubs: Seq[Long])

  def graph(seed: Long): Graph = {
    import Sizes._
    val r = new SplittableRandom(seed * 31 + 4)
    val src = new Array[Long](Edges)
    val dst = new Array[Long](Edges)
    val hubs = (0 until Hubs).map(_.toLong)
    // endpoint pool for preferential attachment: each chosen endpoint is
    // appended, so degree grows with degree
    val pool = new Array[Long](2 * Edges)
    var poolN = 0
    var e = 0
    def add(a: Long, b: Long): Unit = {
      src(e) = a; dst(e) = b; e += 1
      pool(poolN) = a; pool(poolN + 1) = b; poolN += 2
    }
    (0 until Nodes).foreach { n =>
      // the out-edge every node gets; hubs link among themselves
      val t = if (n < Hubs) (n + 1) % Hubs else r.nextInt(n).toLong
      add(n.toLong, t)
    }
    while (e < Edges) {
      val a = r.nextInt(Nodes).toLong
      val b =
        if (r.nextInt(10) < 3) hubs(r.nextInt(Hubs))
        else pool(r.nextInt(poolN))
      if (a != b) add(a, b)
    }
    Graph(src, dst, Nodes, hubs)
  }

  /** The workload's inputs and the hash of their canonical bytes. */
  def generate(workload: String, seed: Long): (Product, String) = {
    val h = new Hasher
    val g: Product = workload match {
      case "ingest_search" =>
        val s = ingest(seed)
        s.base.hashInto(h); s.batches.foreach(_.hashInto(h)); s.queries.hashInto(h); s
      case "corpus_curate" =>
        val c = corpus(seed)
        c.ids.indices.foreach { i =>
          h.long(c.ids(i)); h.str(c.texts(i)); h.str(c.langs(i)); c.vecs(i).foreach(h.float)
        }
        c.links.src.foreach(h.long); c.links.dst.foreach(h.long)
        c
    }
    (g, h.hex)
  }
}
