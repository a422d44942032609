package perfbench

import java.nio.file.Path
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.operators.{LinkGraph, TextDedup}

/** The corpus chain off the crawl path: exact collapse, MinHash-LSH
 *  near-duplicate pairs, duplicate clusters, then PageRank over the host
 *  link graph, checked against the benchmark's own computation. */
object CorpusDedup {
  final case class Size(docs: Int, hosts: Int, vocab: Int, linksPerDoc: Int, iters: Int)

  def size(smoke: Boolean): Size =
    if (smoke) Size(1500, 200, 3000, 3, 10) else Size(6000, 1000, 5000, 3, 10)

  final case class Corpus(docs: IndexedSeq[(Long, String)], edges: IndexedSeq[(Long, Long)])

  /** Seeded corpus: 80% fresh documents of 40-79 words over the vocabulary,
   *  10% byte-identical copies and 10% one-word edits of earlier documents
   *  (Jaccard of word 3-shingles ≥ 0.8 for every edit); each document
   *  links its host to `linksPerDoc` other hosts, with a skew towards
   *  low host ids. */
  def generate(seed: Long, sz: Size): Corpus = {
    val rnd = new java.util.Random(seed)
    val vocab = (0 until sz.vocab).map(i => "w" + Integer.toString(i * 7919 % 99991, 36))
    def word(): String = vocab(rnd.nextInt(sz.vocab))
    val docs = mutable.ArrayBuffer.empty[(Long, String)]
    (0 until sz.docs).foreach { id =>
      val u = rnd.nextDouble()
      val text =
        if (id >= 10 && u < 0.1) docs(rnd.nextInt(id))._2
        else if (id >= 10 && u < 0.2) {
          val ws = docs(rnd.nextInt(id))._2.split(" ")
          ws(rnd.nextInt(ws.length)) = word()
          ws.mkString(" ")
        } else Seq.fill(40 + rnd.nextInt(40))(word()).mkString(" ")
      docs += ((id.toLong, text))
    }
    def host(): Long = (sz.hosts * math.pow(rnd.nextDouble(), 2)).toLong
    val edges = docs.indices.flatMap { _ =>
      val src = host()
      Seq.fill(sz.linksPerDoc)((src, host()))
    }
    Corpus(docs.toIndexedSeq, edges)
  }

  /** Sorted-row digests of each output of the chain. */
  final case class Outputs(members: String, pairs: String, clusters: String, ranks: String)

  private def pairsDigest(rows: Iterable[(Long, Long)]): String =
    Crawl.digest(rows.toSeq.sorted.iterator.map { case (a, b) => s"$a\t$b" })

  /** The chain's outputs computed without Spark or the engine: exact
   *  groups by text, verified Jaccard over every pair of documents that
   *  share a word 3-shingle, union-find clusters and the integer PageRank
   *  update (rank' = base + damping * inflow / 100, inflow = Σ rank / outdeg). */
  def expected(c: Corpus, iters: Int): Outputs = {
    val repOf = mutable.HashMap.empty[String, Long]
    c.docs.sortBy(_._1).foreach { case (id, t) => repOf.getOrElseUpdate(t, id) }
    val members = c.docs.map { case (id, t) => (repOf(t), id) }
    val reps = repOf.toSeq.map(_.swap).sortBy(_._1)
    val shingles = reps.map { case (id, t) =>
      val w = t.trim.split("\\s+")
      id -> (if (w.length < 3) Set.empty[String]
             else (0 to w.length - 3).map(i => w.slice(i, i + 3).mkString(" ")).toSet)
    }.toMap
    val index = mutable.HashMap.empty[String, mutable.ArrayBuffer[Long]]
    shingles.foreach { case (id, ss) => ss.foreach(s => index.getOrElseUpdate(s, mutable.ArrayBuffer.empty) += id) }
    val cands = mutable.HashSet.empty[(Long, Long)]
    index.valuesIterator.filter(_.size > 1).foreach { ids =>
      val s = ids.sorted
      for (i <- s.indices; j <- i + 1 until s.size) cands += ((s(i), s(j)))
    }
    val pairs = cands.filter { case (a, b) =>
      val (sa, sb) = (shingles(a), shingles(b))
      val inter = sa.count(sb.contains)
      1000L * inter / (sa.size + sb.size - inter) >= 800
    }
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = { val p = parent.getOrElseUpdate(x, x); if (p == x) x else { val r = find(p); parent(x) = r; r } }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val clusters = parent.keys.toSeq.map(id => (id, find(id)))

    val scale = 1000000L; val damping = 85L
    val nodes = c.edges.flatMap(e => Seq(e._1, e._2)).distinct
    val outdeg = c.edges.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
    var rank = nodes.map(_ -> scale).toMap
    (1 to iters).foreach { _ =>
      val inflow = mutable.HashMap.empty[Long, Long].withDefaultValue(0L)
      c.edges.foreach { case (s, d) => inflow(d) += Math.floorDiv(rank(s), outdeg(s)) }
      rank = nodes.map(n => n -> ((100L - damping) * scale / 100L + Math.floorDiv(damping * inflow(n), 100L))).toMap
    }
    Outputs(pairsDigest(members), pairsDigest(pairs), pairsDigest(clusters), pairsDigest(rank.toSeq))
  }

  /** One pass of the chain, each output written to `out`. With a tracer,
   *  each step runs in its span. */
  def pass(spark: SparkSession, docs: DataFrame, edges: DataFrame, sz: Size, out: Path,
      t: Option[Tracer]): Unit = {
    def step[T](name: String)(f: => T): T = t.fold(f)(_.span(name)(f))
    def write(df: DataFrame, name: String): DataFrame = {
      df.write.mode("overwrite").parquet(out.resolve(name).toString)
      spark.read.parquet(out.resolve(name).toString)
    }
    val (reps, members) = step("textdedup.collapse") {
      val (r, m) = TextDedup.collapseExact(docs, "text", "id")
      val p = r.persist(StorageLevel.MEMORY_AND_DISK)
      p.count()
      (p, write(m.select(col("rep").cast("long"), col("id").cast("long")), "members"))
    }
    val pairs = step("textdedup.lsh") {
      write(TextDedup.minhashLshDuplicates(reps, "text", "id", assumeUnique = true)
        .select(col("a").cast("long"), col("b").cast("long")), "pairs")
    }
    step("textdedup.clusters") {
      write(TextDedup.duplicateClusters(pairs).select(col("id"), col("comp")), "clusters")
    }
    step("linkgraph.pagerank") {
      write(LinkGraph.pageRank(edges, "src", "dst", sz.iters).select(col("node"), col("rank")), "ranks")
    }
    reps.unpersist(false)
  }

  /** Digests of the outputs the last pass wrote to `out`. */
  def written(spark: SparkSession, out: Path): Outputs = {
    def d(name: String) = pairsDigest(spark.read.parquet(out.resolve(name).toString).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq)
    Outputs(d("members"), d("pairs"), d("clusters"), d("ranks"))
  }

  /** Candidate pairs of the LSH banding (32 bands of 2 rows over 64 MinHash
   *  slots, as TextDedup bands them), for the verified-pair yield. */
  def lshCandidates(reps: DataFrame): Long = {
    val sig = TextDedup.minhashSignatures(TextDedup.shingleHashesRaw(reps, "text", "id", 3), 64)
    val banded = sig.select(col("id"), posexplode(
        expr("transform(sequence(0, 31), b -> xxhash64(slice(sig, b * 2 + 1, 2), b))"))
      .as(Seq("band", "bucket")))
    banded.as("x").join(banded.as("y"), col("x.band") === col("y.band") &&
        col("x.bucket") === col("y.bucket") && col("x.id") < col("y.id"))
      .select(col("x.id"), col("y.id")).distinct().count()
  }

  def run(spark: SparkSession, o: Opts, r: Result): Unit = {
    import spark.implicits._
    val sz = size(o.smoke)
    var docs: DataFrame = null
    var edges: DataFrame = null
    var corpus: Corpus = null
    val setups = (1 to 3).map { _ =>
      Seq(docs, edges).filter(_ != null).foreach(_.unpersist(true))
      val t0 = System.nanoTime()
      corpus = generate(o.seed, sz)
      docs = corpus.docs.toDF("id", "text").persist(StorageLevel.MEMORY_AND_DISK)
      edges = corpus.edges.toDF("src", "dst").persist(StorageLevel.MEMORY_AND_DISK)
      docs.count(); edges.count()
      Env.secondsSince(t0)
    }
    r.metrics("setup_s") = Stats.median(setups)
    val want = expected(corpus, sz.iters)

    val out = o.work.resolve("corpus-out")
    pass(spark, docs, edges, sz, out, None) // JIT, codegen and caches warm before timing
    Heap.reset()
    val times = mutable.ArrayBuffer.empty[Double]
    val tEnd = System.nanoTime() + (o.seconds * 1e9).toLong
    while (r.attempted < 2 || (System.nanoTime() < tEnd && r.attempted < 200)) {
      r.attempt {
        val t0 = System.nanoTime()
        pass(spark, docs, edges, sz, out, None)
        times += Env.secondsSince(t0)
        val got = written(spark, out)
        r.check("members_equal_reference", got.members == want.members) &
          r.check("pairs_equal_reference", got.pairs == want.pairs) &
          r.check("clusters_equal_reference", got.clusters == want.clusters) &
          r.check("ranks_equal_reference", got.ranks == want.ranks)
      }
    }
    r.metrics("items_per_s") = sz.docs / Stats.median(times.toSeq)
    r.metrics("wave_s_p50") = Stats.median(times.toSeq)
    r.info("wave_s_p90") = Stats.quantile(times.toSeq, 0.9)
    r.metrics("state_mb") = Env.dirBytes(out) / 1e6
    r.info("corpus_docs_per_s") = r.metrics("items_per_s")
    r.info("passes") = times.size

    if (o.trace) {
      val t = new Tracer(spark)
      val t0 = System.currentTimeMillis()
      val s0 = System.nanoTime()
      pass(spark, docs, edges, sz, out, Some(t))
      val traced = Env.secondsSince(s0)
      t.drain()
      val js = t.log.jobsIn(t0, System.currentTimeMillis())
      val gate = t.spanJobs("linkgraph.pagerank").filter(_.short.startsWith("count at"))
      val reps = TextDedup.collapseExact(docs, "text", "id")._1
      val nPairs = spark.read.parquet(out.resolve("pairs").toString).count()
      r.layers ++= t.log.sparkTotals(js, traced, o.cores)
      r.layers ++= Seq(
        "trace.overhead_frac" -> (traced / Stats.median(times.toSeq) - 1.0),
        "textdedup.lsh_s" -> t.spanS("textdedup.lsh"),
        "textdedup.clusters_s" -> t.spanS("textdedup.clusters"),
        "textdedup.pair_yield" -> nPairs.toDouble / math.max(lshCandidates(reps), 1L),
        "linkgraph.pagerank_s" -> t.spanS("linkgraph.pagerank"),
        "linkgraph.gate_s" -> t.log.busyMs(gate, t0, System.currentTimeMillis()) / 1e3)
      t.stop()
    }
  }
}
