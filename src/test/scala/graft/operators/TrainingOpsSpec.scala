package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.TextStats

class TrainingOpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val sfDir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def docs: DataFrame = spark.read.parquet(s"$sfDir/documents.parquet")
  private def embeddings: DataFrame = spark.read.parquet(s"$sfDir/embeddings.parquet")

  // ---- TextStats ----

  test("tokenCount counts whitespace tokens; bpeish adds punctuation") {
    val df = spark.createDataFrame(Seq(
      (1L, "hello, world! this is 42"), (2L, "  "), (3L, "one"))).toDF("id", "text")
    val out = df.select(col("id"), TextStats.tokenCount(col("text")).as("t"),
      TextStats.bpeishTokenCount(col("text")).as("b")).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2)))).toMap
    assert(out(1L) == ((5, 8))) // hello , world ! this is 4 2
    assert(out(2L) == ((0, 0)))
    assert(out(3L) == ((1, 1)))
  }

  test("repetition signals match hand-computed fractions") {
    val df = spark.createDataFrame(Seq(
      (1L, "a b\na b\nc d"), // dup line "a b" ×2
      (2L, ""),
      (3L, "x"))).toDF("doc_id", "text")
    val out = TextStats.repetition(df, "text", "doc_id").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // doc 1: lines {a b:2, c d:1} → dup 1/3=333‰, dup chars 6/9=666‰;
    // words [a,b,a,b,c,d] → top 2/6=333‰; bigrams [a b,b a,a b,b c,c d] → 2/5=400‰
    assert(out(1L) == ((333L, 666L, 333L, 400L)))
    assert(out(2L) == ((0L, 0L, 0L, 0L)))
    assert(out(3L) == ((0L, 0L, 1000L, 0L)))
  }

  test("repetition signals are shuffle-free (per-doc scalars, no exchange)") {
    val plan = TextStats.repetition(docs, "text", "doc_id")
      .queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!plan.contains("Exchange"), s"per-doc scalar stats must not shuffle:\n$plan")
  }

  test("PII counts and redaction") {
    val df = spark.createDataFrame(Seq(
      (1L, "write to bob@x.com or 10.0.0.1 now"),
      (2L, "no pii here"),
      (3L, "a@b is not an email; 1.2.3 is not an ip"))).toDF("doc_id", "text")
    val out = df.select(col("doc_id"),
      TextStats.piiEmailCount(col("text")).as("e"),
      TextStats.piiIpv4Count(col("text")).as("i"),
      TextStats.piiRedact(col("text")).as("r")).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getString(3)))).toMap
    assert(out(1L) == ((1, 1, "write to <EMAIL> or <IP> now")))
    assert(out(2L) == ((0, 0, "no pii here")))
    assert(out(3L) == ((0, 0, "a@b is not an email; 1.2.3 is not an ip")))
  }

  test("langId picks the marker-dominant language, und for no markers") {
    val df = spark.createDataFrame(Seq(
      (1L, "the cat and the dog of the house is to go"),
      (2L, "el perro y los gatos de la casa es un animal"),
      (3L, "der hund und die katze ist nicht ein tier zu sehen"),
      (4L, "le chien et la maison est une des choses du jour"),
      (5L, "这是 一个 中文 文档 测试"),
      (6L, "zzz qqq www"))).toDF("id", "text")
    val out = df.select(col("id"), TextStats.langId(col("text")).as("l"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "en", 2L -> "es", 3L -> "de", 4L -> "fr", 5L -> "zh", 6L -> "und"))
  }

  test("langIdFromModel: built-in markers as a model table reproduce langId; a swapped model redecides") {
    val sp = spark
    import sp.implicits._
    val df = spark.createDataFrame(Seq(
      (1L, "the cat and the dog of the house is to go"),
      (2L, "el perro y los gatos de la casa es un animal"),
      (3L, "der hund und die katze ist nicht ein tier zu sehen"),
      (4L, "le chien et la maison est une des choses du jour"),
      (5L, "这是 一个 中文 文档 测试"),
      (6L, "zzz qqq www"))).toDF("id", "text")
    // the swap is config: the SAME built-in markers, loaded as an
    // external (lang, pattern, weight_milli) table, give langId's answers
    // priority column reproduces langId's zh > en > es > de > fr
    // tie-break order as model CONTENT (row order is not a contract)
    val builtin = TextStats.LangMarkers.zipWithIndex
      .map { case ((l, p), i) => (l, p, 1000L, i.toLong) }
      .toDF("lang", "pattern", "weight_milli", "priority")
    val fn = TextStats.langIdFromModel(builtin)
    val out = df.select(col("id"), fn(col("text")).as("l"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "en", 2L -> "es", 3L -> "de", 4L -> "fr", 5L -> "zh", 6L -> "und"))
    // a different model redecides: weight the fr markers 10x and doc 1
    // ("the ... of ... is to") still wins en on hits, doc 4 stays fr,
    // and a model that only knows "zzz" labels doc 6
    val custom = Seq(
      ("xx", "\\b(zzz|qqq)\\b", 1000L),
      ("en", "\\b(the|and)\\b", 1000L))
      .toDF("lang", "pattern", "weight_milli")
    val fn2 = TextStats.langIdFromModel(custom)
    val out2 = df.select(col("id"), fn2(col("text")).as("l"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out2(6L) == "xx" && out2(1L) == "en" && out2(5L) == "und")
    // tie-break is model CONTENT, not collect() layout (r5 review fix):
    // both langs score identically on "foo"; priority puts zz first,
    // dropping priority falls back to lexicographic → aa first
    val tiedPri = Seq(("zz", "\\bfoo\\b", 1000L, 0L), ("aa", "\\bfoo\\b", 1000L, 1L))
      .toDF("lang", "pattern", "weight_milli", "priority")
    val one = spark.createDataFrame(Seq(Tuple1("foo bar"))).toDF("text")
    assert(one.select(TextStats.langIdFromModel(tiedPri)(col("text")))
      .collect().head.getString(0) == "zz")
    assert(one.select(TextStats.langIdFromModel(tiedPri.drop("priority"))(col("text")))
      .collect().head.getString(0) == "aa")
  }

  test("quality signals are integers and qualityKeep gates junk") {
    val df = spark.createDataFrame(Seq(
      (1L, "A normal document with some sensible words, punctuation and length that should pass the gate easily."),
      (2L, "SHOUTING ALL CAPS TEXT EVERYWHERE LOUD"),
      (3L, "x"))).toDF("id", "text")
    val sig = TextStats.qualitySignals(col("text"))
    val signals = df.select((col("id") +: sig.map { case (n, c) => c.as(n) }): _*).collect()
    assert(signals.length == 3)
    val out = df.select(col("id"), TextStats.qualityKeep(col("text")).as("keep"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(out(1L)); assert(!out(2L)); assert(!out(3L))
  }

  test("c4CleanText keeps punctuated >=3-word non-javascript lines; c4PageKeep gates pages") {
    val good = (1 to 6).map(i => s"Sentence number $i has plenty of words.").mkString("\n")
    val df = spark.createDataFrame(Seq(
      (1L, good),
      (2L, "No terminal punctuation here\nshort one.\nEnable JavaScript to view.\n" + good),
      (3L, "Only two. Sentences here. Total.\nNot enough sentences kept."),
      (4L, good + "\nif (x) { return; }"),
      (5L, good + "\nlorem ipsum dolor sit amet."),
      (6L, good + "\nthis line mentions a badword somewhere."))).toDF("id", "text")
    val cleaned = df.select(col("id"), TextStats.c4CleanText(col("text")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(cleaned(1L) == good, "fully-clean page must survive intact")
    // doc 2: unpunctuated and sub-3-word and javascript lines all drop
    assert(!cleaned(2L).contains("No terminal punctuation"))
    assert(!cleaned(2L).contains("short one."))
    assert(!cleaned(2L).contains("JavaScript"))
    assert(cleaned(2L) == good)
    val keep = df.select(col("id"),
      TextStats.c4PageKeep(col("text"), Seq("badword")).as("k"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(keep(1L) && keep(2L))
    assert(!keep(3L), "fewer than 5 retained sentences must drop the page")
    assert(!keep(4L), "curly bracket must drop the page")
    assert(!keep(5L), "lorem ipsum must drop the page")
    assert(!keep(6L), "bad-word hit must drop the page")
  }

  test("gopherKeep: each clause of the paper's gate rejects independently") {
    val base = ("the words of this document keep flowing with sensible english " +
      "prose that we have written to be long enough ") * 3 // > 50 words, stops present
    val df = spark.createDataFrame(Seq(
      (1L, base),
      (2L, "too short to pass the fifty word minimum of the gate"),
      (3L, base + " " + ("#" * 40)),                       // hash symbol flood
      (4L, base + (" word..." * 40)),                      // ellipsis flood
      (5L, base.split(" ").take(60).mkString("\n- ")),     // bullet lines
      (6L, base + " " + (("12345 " * 4) * 20)),            // < 80% alphabetic words
      (7L, base.replaceAll("\\b(the|of|that|with|to|have|be|and)\\b", "xx")))) // no stops
      .toDF("id", "text")
    val out = df.select(col("id"), TextStats.gopherKeep(col("text")).as("k"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(out(1L), "clean long prose must pass")
    assert(!out(2L), "word-count floor")
    assert(!out(3L), "hash symbol ratio")
    assert(!out(4L), "ellipsis symbol ratio")
    assert(!out(5L), "bullet-line fraction")
    assert(!out(6L), "alphabetic-word floor")
    assert(!out(7L), "stop-word floor")
    // signals are exact integers
    val sig = TextStats.gopherSignals(col("text"))
    val row = df.filter(col("id") === 1L)
      .select(sig.map { case (n, c) => c.cast("long").as(n) }: _*).collect()(0)
    assert(row.getLong(0) > 50L)          // n_words
    assert(row.getLong(7) >= 2L)          // stop_hits
  }

  test("fingerprint is order-sensitive and whitespace-normalized") {
    assert(TextStats.fingerprint("a b c") == TextStats.fingerprint("a  b   c"))
    assert(TextStats.fingerprint("a b c") != TextStats.fingerprint("c b a"))
    assert(TextStats.fingerprint("") == TextStats.fingerprint("   "))
  }

  // ---- TextDedup ----

  private def docsWithCopies: DataFrame =
    docs.unionByName(docs.withColumn("doc_id", col("doc_id") + 1000000))

  test("exact dedup collapses identical texts to min id with copy count") {
    val out = TextDedup.exact(docsWithCopies, "text", "doc_id")
    val n = docs.count()
    assert(out.count() == n)
    assert(out.agg(sum("n_copies")).collect()(0).getLong(0) == 2 * n)
    assert(out.agg(max("doc_id")).collect()(0).getLong(0) < 1000000)
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("dedupParagraphs: global first kept, normalized match, blanks survive") {
    val sp = spark
    import sp.implicits._
    // doc 1: "A" repeats within the doc (case-normalized); the blank
    // line must survive. doc 2: both paragraphs are later occurrences
    // of doc 1's (whitespace-normalized). doc 3: empty text.
    val df = Seq(
      (1L, "A\n\nb c\na"), (2L, " a \nb  c\nd"), (3L, ""))
      .toDF("doc_id", "text")
    val out = TextDedup.dedupParagraphs(df, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getString(3)))).toMap
    assert(out(1L) == ((3, 1, md5Hex("A\n\nb c"))))
    assert(out(2L) == ((3, 2, md5Hex("d"))))
    assert(out(3L) == ((0, 0, md5Hex(""))))
  }

  test("dedupParagraphs equals brute force on a seeded LCG corpus (property)") {
    val sp = spark
    import sp.implicits._
    // small paragraph pool (duplicates abound) + case/spacing variants
    // + blank lines; brute-force replays the rules exactly
    val pool = Vector("the quick fox", "lorem ipsum", "copyright footer",
      "THE QUICK FOX", "lorem  ipsum", "unique %d", "", "   ")
    var s = 0xC0FFEE1234L
    def nx(n: Int): Int = { s = s * 6364136223846793005L + 1442695040888963407L
      (((s >>> 33) % n).toInt + n) % n }
    val texts = (0 until 30).map { i =>
      val nSeg = 1 + nx(6)
      i.toLong -> (0 until nSeg).map { _ =>
        val p = pool(nx(pool.size)); if (p.contains("%d")) p.format(nx(5)) else p
      }.mkString("\n")
    }
    def norm(p: String) = p.replaceAll("\\s+", " ").trim.toLowerCase
    val occ = texts.flatMap { case (id, t) =>
      t.split("\n", -1).zipWithIndex.collect {
        case (p, i) if norm(p).nonEmpty => (norm(p), id, i) } }
    val firsts = occ.groupBy(_._1).map { case (k, os) =>
      k -> os.map(o => (o._2, o._3)).min }
    val expected = texts.map { case (id, t) =>
      val segs = t.split("\n", -1)
      val rm = segs.zipWithIndex.collect {
        case (p, i) if norm(p).nonEmpty && firsts(norm(p)) != ((id, i)) => i }.toSet
      val kept = segs.zipWithIndex.collect { case (p, i) if !rm(i) => p }
      id -> ((segs.count(p => norm(p).nonEmpty), rm.size, md5Hex(kept.mkString("\n"))))
    }.toMap
    val out = TextDedup.dedupParagraphs(texts.toDF("doc_id", "text"), "text", "doc_id")
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getString(3)))).toMap
    assert(out == expected)
    assert(expected.values.exists(_._2 > 0), "fixture must contain duplicate paragraphs")
    assert(expected.values.exists(v => v._2 == 0), "fixture must contain untouched docs")
  }

  test("hostBoilerplate: host-scoped df gate cuts hot lines everywhere, cold survive") {
    val sp = spark
    import sp.implicits._
    // "nav" is hot on hostA (3 distinct docs — within-doc repeat on doc 1
    // counts once) and cold on hostB (1 doc). "promo" stays under the
    // gate everywhere (df 2 on hostA).
    val df = Seq(
      (1L, "hostA", "NAV\nbody one\n nav \npromo"),
      (2L, "hostA", "nav\nbody two\npromo"),
      (3L, "hostA", "nav\nbody three"),
      (4L, "hostB", "nav\nbody four"))
      .toDF("doc_id", "host", "text")
    val out = TextDedup.hostBoilerplate(df, "host", "text", "doc_id", minDf = 3)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getString(3)))).toMap
    assert(out(1L) == ((4, 2, md5Hex("body one\npromo"))))
    assert(out(2L) == ((3, 1, md5Hex("body two\npromo"))))
    assert(out(3L) == ((2, 1, md5Hex("body three"))))
    assert(out(4L) == ((2, 0, md5Hex("nav\nbody four"))))
  }

  test("hostBoilerplate: null-host docs are exempt from removal (pinned contract)") {
    val sp = spark
    import sp.implicits._
    // "nav" would clear the df>=3 gate if null hosts pooled — the
    // contract (ADVICE r4) says they must NOT: unknown provenance never
    // forms a pseudo-site, so all three docs come back uncut
    val df = Seq(
      (1L, null.asInstanceOf[String], "nav\nbody one"),
      (2L, null.asInstanceOf[String], "nav\nbody two"),
      (3L, null.asInstanceOf[String], "nav\nbody three"))
      .toDF("doc_id", "host", "text")
    val out = TextDedup.hostBoilerplate(df, "host", "text", "doc_id", minDf = 3)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getString(3)))).toMap
    assert(out(1L) == ((2, 0, md5Hex("nav\nbody one"))))
    assert(out(2L) == ((2, 0, md5Hex("nav\nbody two"))))
    assert(out(3L) == ((2, 0, md5Hex("nav\nbody three"))))
  }

  test("hostBoilerplate equals brute force on a seeded LCG corpus (property)") {
    val sp = spark
    import sp.implicits._
    val pool = Vector("nav menu", "NAV  MENU", "body %d", "footer", "", "promo")
    var s = 0xB011E4B0ADL
    def nx(n: Int): Int = { s = s * 6364136223846793005L + 1442695040888963407L
      (((s >>> 33) % n).toInt + n) % n }
    val texts = (0 until 40).map { i =>
      (i.toLong, s"h${nx(4)}", (0 until 1 + nx(5)).map { _ =>
        val p = pool(nx(pool.size)); if (p.contains("%d")) p.format(nx(8)) else p
      }.mkString("\n"))
    }
    def norm(p: String) = p.replaceAll("\\s+", " ").trim.toLowerCase
    val minDf = 3
    // .filter(...).keySet, NOT .collect{... => k}.toSet — a Map.collect
    // producing pairs rebuilds a Map keyed on k._1 (the host), silently
    // keeping one key per host
    val hot = texts.flatMap { case (id, h, t) =>
      t.split("\n", -1).collect { case p if norm(p).nonEmpty => (h, norm(p), id) } }
      .distinct.groupBy(o => (o._1, o._2))
      .filter(_._2.size >= minDf).keySet
    val expected = texts.map { case (id, h, t) =>
      val segs = t.split("\n", -1)
      val rm = segs.zipWithIndex.collect {
        case (p, i) if norm(p).nonEmpty && hot((h, norm(p))) => i }.toSet
      val kept = segs.zipWithIndex.collect { case (p, i) if !rm(i) => p }
      id -> ((segs.count(p => norm(p).nonEmpty), rm.size, md5Hex(kept.mkString("\n"))))
    }.toMap
    val out = TextDedup.hostBoilerplate(texts.toDF("doc_id", "host", "text"),
        "host", "text", "doc_id", minDf)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getString(3)))).toMap
    assert(out == expected)
    assert(expected.values.exists(_._2 > 0), "fixture must contain boilerplate cuts")
    assert(expected.values.exists(_._2 == 0), "fixture must contain untouched docs")
  }

  test("dedupParagraphs plan: map-side partial min on the key, no cartesian") {
    val plan = TextDedup.dedupParagraphs(docs, "text", "doc_id")
      .queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"paragraph dedup must never go quadratic:\n$plan")
    // a 10^8-copy boilerplate paragraph must combine map-side, not
    // flood one reduce key
    assert(plan.contains("partial_min"),
      s"firsts aggregate must have a map-side partial:\n$plan")
    // the struct-min trap: a struct-valued min degrades to SortAggregate
    // (two full sorts of the paragraph stream) — must stay hash
    assert(!plan.contains("SortAggregate"),
      s"firsts must be primitive hash aggregates, not sort:\n$plan")
  }

  test("repeatedSpans: corpus-wide repeated k-windows, within-doc repeats included") {
    val sp = spark
    import sp.implicits._
    // doc 1 repeats "a b" WITHIN itself (pos 0 and 3); "b c" repeats
    // ACROSS docs 1 and 2; doc 3's gram is unique; doc 4 is shorter
    // than k and contributes no windows at all.
    val df = Seq(
      (1L, "a b c a b"), (2L, "b c d"), (3L, "x y"), (4L, "solo"))
      .toDF("doc_id", "text")
    val spans = TextDedup.repeatedSpans(df, "text", "doc_id", k = 2)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(spans == Map(1L -> Seq(0, 1, 3), 2L -> Seq(0)))
  }

  test("dedupRepeatedSpans: covered tokens cut, survivors keep order, md5 exact") {
    val sp = spark
    import sp.implicits._
    val df = Seq(
      (1L, "a b c a b"), (2L, "  b   c d "), (3L, "x y"), (4L, "solo"))
      .toDF("doc_id", "text")
    val out = TextDedup.dedupRepeatedSpans(df, "text", "doc_id", k = 2)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getString(3)))).toMap
    // doc 1: starts {0,1,3} cover every index 0..4 → fully removed
    assert(out(1L) == ((5, 5, md5Hex(""))))
    // doc 2 (ragged whitespace — tokenization must normalize): "b c"
    // repeated → tokens 0,1 cut, "d" survives
    assert(out(2L) == ((3, 2, md5Hex("d"))))
    // docs 3/4: untouched; md5 is of the whitespace-normalized rejoin
    assert(out(3L) == ((2, 0, md5Hex("x y"))))
    assert(out(4L) == ((1, 0, md5Hex("solo"))))
  }

  test("dedupRepeatedSpans equals brute force on a seeded LCG corpus (property)") {
    val sp = spark
    import sp.implicits._
    // tiny vocab so 3-windows genuinely repeat; LCG for determinism
    val vocab = Vector("a", "b", "c", "d", "e")
    var s = 0x9E3779B97F4A7C15L
    def nx(): Int = { s = s * 6364136223846793005L + 1442695040888963407L
      (((s >>> 33) % vocab.size).toInt + vocab.size) % vocab.size }
    val texts = (0 until 40).map { i =>
      val len = 2 + (i % 9) // some docs below k=3
      i.toLong -> (0 until len).map(_ => vocab(nx())).mkString(" ")
    }
    val k = 3
    // brute force: every k-window occurring >1 times corpus-wide
    val grams = texts.flatMap { case (id, t) =>
      val tk = t.split("\\s+").filter(_.nonEmpty)
      tk.sliding(k).zipWithIndex.filter(_._1.length == k)
        .map { case (w, p) => (id, p, w.mkString(" ")) }.toSeq
    }
    val rep = grams.groupBy(_._3).filter(_._2.size > 1).keySet
    val expected = texts.map { case (id, t) =>
      val tk = t.split("\\s+").filter(_.nonEmpty)
      val removed = grams.filter(g => g._1 == id && rep(g._3))
        .flatMap(g => g._2 until g._2 + k).toSet
      val kept = tk.zipWithIndex.collect { case (w, i) if !removed(i) => w }
      id -> ((tk.length, removed.size, md5Hex(kept.mkString(" "))))
    }.toMap
    val out = TextDedup.dedupRepeatedSpans(
        texts.toDF("doc_id", "text"), "text", "doc_id", k)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getString(3)))).toMap
    assert(out == expected)
    assert(expected.values.exists(_._2 > 0), "fixture must contain repeats")
    assert(expected.values.exists(v => v._2 == 0 && v._1 >= k),
      "fixture must contain untouched full-length docs")
  }

  test("dedupRepeatedSpans plan: gram aggregate + semi join, no cartesian") {
    val plan = TextDedup.dedupRepeatedSpans(docs, "text", "doc_id", k = 8)
      .queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"repeated-span dedup must never go quadratic:\n$plan")
    assert(plan.contains("LeftSemi"), s"repeated grams must prune via semi join:\n$plan")
  }

  test("minhash LSH + verify finds exactly the exact-Jaccard pairs (≥0.8)") {
    val sh = TextDedup.shingles(docs, "text", "doc_id", 3)
    val exact = TextDedup.jaccardPairs(sh, 800)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = TextDedup.minhashLshDuplicates(docs, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "corpus should contain planted near-dups")
    assert(lsh == exact)
  }

  test("minhash assumeUnique regime equals the default on an exact-collapsed corpus") {
    // the fast path skips collapseExact + member re-expansion; on a
    // text-unique corpus (one rep per distinct text, incl. a null-text
    // row) both regimes must produce the identical verified pair set
    val uniq = docs.join(
        TextDedup.exact(docs, "text", "doc_id").select("doc_id"),
        Seq("doc_id"), "left_semi")
      .unionByName(docs.limit(1).select(
        (col("doc_id") + 5000000).as("doc_id"), lit(null).cast("string").as("text"),
        col("lang"), col("source"), col("n_chars")))
    def pairs(assume: Boolean) =
      TextDedup.minhashLshDuplicates(uniq, "text", "doc_id", assumeUnique = assume)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val fast = pairs(true)
    val slow = pairs(false)
    assert(fast.nonEmpty, "fixture should contain near-dup (non-identical) pairs")
    assert(fast == slow)
  }

  test("jaccard df-cap: a planted corpus-wide hot shingle changes nothing above threshold") {
    // prepend the same boilerplate to EVERY doc: its shingles get
    // df = corpus size ≫ maxDf, exactly the stop-phrase blowup the cap
    // targets. Capped candidates + exact verify must equal the uncapped
    // exact pair set, values included (verify counts hot shingles too).
    val planted = docs.withColumn("text",
      concat(lit("copyright footer boilerplate "), col("text")))
    val sh = TextDedup.shingles(planted, "text", "doc_id", 3)
    val hotDf = sh.filter(col("shingle") === "copyright footer boilerplate").count()
    assert(hotDf == docs.count(), "hot shingle must hit every doc")
    assert(hotDf > 32, "fixture must exceed the cap for this test to bite")
    val uncapped = TextDedup.jaccardPairs(sh, 500).collect().map(_.toSeq).toSet
    val capped = TextDedup.jaccardPairs(sh, 500, maxDf = 32).collect().map(_.toSeq).toSet
    assert(uncapped.nonEmpty, "corpus should contain planted near-dups")
    assert(capped == uncapped)
    // the cap's blind-spot meter: no fixture doc is ALL-hot shingles here
    assert(TextDedup.hotOnlyDocCount(sh, 32) == 0L)
    // but an all-boilerplate doc (only the planted hot phrase) registers
    val sp2 = spark
    import sp2.implicits._
    val withAllHot = planted.select(col("doc_id"), col("text")).unionByName(
      Seq((999999L, "copyright footer boilerplate")).toDF("doc_id", "text"))
    val sh2 = TextDedup.shingles(withAllHot, "text", "doc_id", 3)
    assert(TextDedup.hotOnlyDocCount(sh2, 32) == 1L)
  }

  test("k=1 hashed shingles match string shingles on empty and whitespace-only docs") {
    val sp = spark
    import sp.implicits._
    // "\t x": trim leaves the tab, so the split starts with an empty word
    val docs = Seq((1L, ""), (2L, "   "), (3L, "a b a"), (4L, "\t x"), (5L, " one ")).toDF("id", "text")
    def perId(df: DataFrame): Map[Long, Long] =
      df.groupBy("id").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val strings = perId(TextDedup.shingles(docs, "text", "id", 1))
    assert(strings == Map(3L -> 2L, 4L -> 1L, 5L -> 1L))
    assert(perId(TextDedup.shingleHashes(docs, "text", "id", 1)) == strings)
    // at k >= 2 an empty word sits inside a longer shingle, which both forms keep
    assert(perId(TextDedup.shingleHashes(docs, "text", "id", 2)) ==
      perId(TextDedup.shingles(docs, "text", "id", 2)))
  }

  test("jaccardForPairs tolerates duplicate candidate pairs (internal dedup)") {
    val sp = spark
    import sp.implicits._
    val sh = TextDedup.shingles(docs, "text", "doc_id", 3)
    val exact = TextDedup.jaccardPairs(sh, 800).collect().map(_.toSeq).toSet
    assert(exact.nonEmpty)
    val cand = exact.map(r => (r(0).asInstanceOf[Long], r(1).asInstanceOf[Long])).toSeq
    val dup = (cand ++ cand ++ cand).toDF("a", "b") // tripled pair rows
    val out = TextDedup.jaccardForPairs(dup, sh, 800).collect().map(_.toSeq).toSet
    assert(out == exact, "duplicate candidates must not inflate intersections")
  }

  test("simhash exact copies collide at distance 0; block trick finds them") {
    val planted = docsWithCopies
    val dups = TextDedup.simhashDuplicates(planted, "text", "doc_id", maxDist = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = docs.select("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(0) + 1000000)).toSet
    assert(expected.subsetOf(dups))
  }

  test("simhash hamming distance respects maxDist filter") {
    val d3 = TextDedup.simhashDuplicates(docs, "text", "doc_id", maxDist = 3)
    assert(d3.filter(col("dist") > 3).count() == 0)
  }

  test("simhash wider block split (nBlocks=6) finds the identical pair set") {
    val d4 = TextDedup.simhashDuplicates(docsWithCopies, "text", "doc_id", maxDist = 3)
      .collect().map(_.toSeq).toSet
    val d6 = TextDedup.simhashDuplicates(docsWithCopies, "text", "doc_id",
      maxDist = 3, nBlocks = 6).collect().map(_.toSeq).toSet
    assert(d4.nonEmpty)
    assert(d6 == d4)
  }

  test("simhash hot-bucket bound: a planted hot 16-bit block floods only the narrow split") {
    val sp = spark
    import sp.implicits._
    // 200 signatures sharing bits 0-15 (one whole block of the 4-split)
    // but pairwise Hamming ≥ 6 overall (each id bit difference is planted
    // 6× across the upper 48 bits) — the web-scale hazard: one hot
    // narrow key. The 4-split must candidate every pair; the 6-split's
    // ~32-bit combo keys (needing 3 equal blocks) must candidate none.
    val sigs = (0L until 200L).map { i =>
      (i, 0xABCDL | (i << 16) | (i << 24) | (i << 32) | (i << 40) | (i << 48) | (i << 56))
    }.toDF("id", "simhash")
    val cand4 = TextDedup.simhashCandidates(sigs, maxDist = 3, nBlocks = 4).count()
    val cand6 = TextDedup.simhashCandidates(sigs, maxDist = 3, nBlocks = 6).count()
    assert(cand4 == 200L * 199 / 2, "4-split: every pair shares the hot block")
    assert(cand6 == 0L, "6-split: no pair shares 3 of 6 blocks")
  }

  test("duplicateClusters: both regimes equal reachability components") {
    val sp = spark
    import sp.implicits._
    // a 4-chain (needs > 1 propagation round), a triangle, an isolated pair
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L), (10L, 12L),
      (20L, 21L)).toDF("a", "b")
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L)
    // small-graph regime: driver union-find (the default path here)
    val local = TextDedup.duplicateClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(local == expected)
    // large-graph regime forced: distributed min-label propagation
    val dist = TextDedup.duplicateClusters(pairs, localEdgeThreshold = -1L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dist == expected)
    // the empty pair list, in both regimes
    val none = Seq.empty[(Long, Long)].toDF("a", "b")
    Seq(SmallGraph.EdgeThreshold, -1L).foreach { t =>
      assert(TextDedup.duplicateClusters(none, localEdgeThreshold = t).collect().isEmpty,
        s"threshold $t")
    }
  }

  test("duplicateClusters: regimes agree on a 600-edge LCG graph (property)") {
    val sp = spark
    import sp.implicits._
    // deterministic pseudo-random sparse graph over 400 nodes: mixed
    // component shapes (chains, merged blobs, isolates) — no structure
    // either implementation could special-case
    val es = (0 until 600).map { i =>
      val a = (i * 6364136223846793005L + 1442695040888963407L) >>> 33
      val b = (a * 6364136223846793005L + 1442695040888963407L) >>> 33
      (math.floorMod(a, 400L), math.floorMod(b, 400L))
    }.filter { case (a, b) => a != b }
    val pairs = es.toDF("a", "b")
    val local = TextDedup.duplicateClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dist = TextDedup.duplicateClusters(pairs, localEdgeThreshold = -1L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(local == dist, "union-find and min-label propagation diverged")
    // component labels are canonical: every comp is its own representative
    assert(local.forall { case (_, c) => local(c) == c })
  }

  test("minhash LSH: a 1000-copy cluster collapses to one rep, expands to all pairs") {
    val sp = spark
    import sp.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta"
    val corpus = ((0L until 1000L).map(i => (i, base)) ++
      Seq((5000L, "completely different words entirely unrelated text here"),
          (5001L, "another standalone document with its own distinct body"))).toDF("doc_id", "text")
    // structural candidate bound: dedup collapses the cluster BEFORE
    // shingling, so the LSH band buckets see 3 distinct texts, not 1002
    val (reps, members) = TextDedup.collapseExact(corpus, "text", "doc_id")
    assert(reps.count() == 3)
    assert(members.count() == 1002)
    val out = TextDedup.minhashLshDuplicates(corpus, "text", "doc_id")
    assert(out.count() == 1000L * 999 / 2, "exactly the within-cluster pairs")
    assert(out.filter(col("jaccard_milli") =!= 1000).count() == 0)
    // ids expanded back to members, ordered a < b
    assert(out.filter(col("a") >= col("b")).count() == 0)
    assert(out.agg(min("a")).collect()(0).getLong(0) == 0L)
    assert(out.agg(max("b")).collect()(0).getLong(0) == 999L)
  }

  test("collapseExact: a digest collision never merges texts or duplicates members") {
    val sp = spark
    import sp.implicits._
    val df = Seq[(Long, String)]((4L, "gamma delta"), (1L, "alpha beta"), (2L, "gamma delta"),
      (3L, "alpha beta"), (5L, "solo text"), (6L, null)).toDF("doc_id", "text")
    def out(rm: (DataFrame, DataFrame)) = (
      rm._1.collect().map(r => r.getLong(0) -> r.getString(1)).toSet,
      rm._2.collect().map(r => r.getLong(1) -> r.getLong(0)).toSeq.sorted)
    val want = (Set(1L -> "alpha beta", 2L -> "gamma delta", 5L -> "solo text"),
      Seq(1L -> 1L, 2L -> 2L, 3L -> 1L, 4L -> 2L, 5L -> 5L))
    // every text gets the same digest: groups must still split by text
    assert(out(TextDedup.collapseBy(df, "text", "doc_id", _ => lit("collide"))) == want)
    assert(out(TextDedup.collapseExact(df, "text", "doc_id")) == want)
  }

  test("jaccardPairs: a repeat-carrying shingle stream gives the distinct stream's output") {
    // a repeated phrase makes every doc carry repeated (and hot) shingles
    val rep = docs.select(col("doc_id"),
      concat(lit("la la la la la la "), col("text"), lit(" la la la la")).as("text"))
    val raw = TextDedup.shingleHashesRaw(rep, "text", "doc_id", 3)
    val distinct = TextDedup.shingleHashes(rep, "text", "doc_id", 3)
    assert(raw.count() > distinct.count(), "the raw stream must carry repeats")
    for (maxDf <- Seq(0, 32)) {
      val want = TextDedup.jaccardPairs(distinct, 500, maxDf).collect().map(_.toSeq).toSet
      assert(want.nonEmpty, "corpus should contain planted near-dups")
      assert(TextDedup.jaccardPairs(raw, 500, maxDf).collect().map(_.toSeq).toSet == want,
        s"maxDf=$maxDf")
    }
  }

  test("minhash LSH: a 200,000-word document and its one-word edit give the exact pair set") {
    val sp = spark
    import sp.implicits._
    val rnd = new scala.util.Random(11)
    val words = Array.fill(200000)("w" + rnd.nextInt(50000))
    val edited = words.clone()
    edited(100000) = "edited"
    val texts = Seq(1L -> words.mkString(" "), 2L -> edited.mkString(" "),
      3L -> words.take(60).mkString(" "), 4L -> "short unrelated text body")
    def shingleSet(t: String) = t.split(" ").sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
    val sets = texts.toMap.map { case (id, t) => id -> shingleSet(t) }
    val exact = (for ((a, sa) <- sets; (b, sb) <- sets if a < b) yield {
      val inter = sa.count(sb.contains).toLong
      (a, b, 1000L * inter / (sa.size + sb.size - inter))
    }).filter(_._3 >= 800).toSet
    assert(exact.map(p => (p._1, p._2)) == Set((1L, 2L)))
    val out = TextDedup.minhashLshDuplicates(texts.toDF("doc_id", "text"), "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(out == exact)
  }

  test("minhash LSH plan: no Generate over shingles, no collect_set, no aggregate keyed by id") {
    import org.apache.spark.sql.catalyst.expressions.{ArrayIntersect, AttributeReference}
    import org.apache.spark.sql.catalyst.expressions.aggregate.CollectSet
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Generate}
    // the sketch unmaterialized, so its own plan is inspected too
    val lazyPlan = TextDedup.lshPairs(TextDedup.lshSketch(docs, "text", "doc_id", 3, 64, 32), 800)
    Seq(lazyPlan, TextDedup.minhashLshDuplicates(docs, "text", "doc_id"),
        TextDedup.minhashLshDuplicates(docs, "text", "doc_id", assumeUnique = true))
      .map(_.queryExecution.optimizedPlan).foreach { p =>
        // (the optimizer may alias the struct field as `_extract_bands`)
        val gens = p.collect { case g: Generate => g.generator }
        assert(gens.nonEmpty && gens.forall(g =>
            g.prettyName == "posexplode" && g.children.forall(_.sql.contains("bands"))),
          s"only the band keys may be exploded:\n$p")
        val aggs = p.collect { case a: Aggregate => a }
        assert(!aggs.exists(_.aggregateExpressions.exists(_.exists(_.isInstanceOf[CollectSet]))),
          s"no collect_set:\n$p")
        assert(!aggs.exists(_.groupingExpressions.exists {
            case r: AttributeReference => r.name == "id"
            case _ => false
          }), s"no aggregate keyed by id:\n$p")
        // the verify's threshold filter reads the pair's intersection
        // size; it must not inline a second array_intersect
        val intersects = p.collect { case n =>
          n.expressions.map(_.collect { case x: ArrayIntersect => x }.size).sum }.sum
        assert(intersects == 1, s"one array_intersect per verified pair:\n$p")
      }
  }

  // ---- Similarity ----

  test("brute-force topK is deterministic and self-excluding") {
    val q = embeddings.filter(col("vec_id") < 5)
    val out = Similarity.bruteForceTopK(q, embeddings, "vec_id", "embedding", 3)
    val rows = out.collect()
    assert(rows.length == 15)
    assert(rows.forall(r => r.getLong(0) != r.getLong(1)))
    val again = Similarity.bruteForceTopK(q, embeddings, "vec_id", "embedding", 3).collect()
    assert(rows.map(_.toSeq).toSet == again.map(_.toSeq).toSet)
  }

  test("LSH ANN achieves ≥60% recall@3 vs brute force on the fixture corpus") {
    val q = embeddings.filter(col("vec_id") < 20)
    val exact = Similarity.bruteForceTopK(q, embeddings, "vec_id", "embedding", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = Similarity.lshTopK(q, embeddings, "vec_id", "embedding", 3, dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect ann).size.toDouble / exact.size
    assert(recall >= 0.6, s"recall=$recall")
  }

  test("IVF ANN: deterministic k-means index recovers clustered neighbors") {
    import org.apache.spark.sql.functions.{col, expr}
    // clustered corpus: 8 well-separated centers, 40 points each with a
    // small deterministic per-dim offset -> true top-k neighbors share
    // the cluster, so nProbe=2 of 8 must recover them
    val sp = spark
    val clustered = sp.range(0, 320).selectExpr("id as vec_id",
      """transform(sequence(0, 15), d ->
           cast(10.0 * cast(id % 8 as double) * cos(cast(d as double) * (1.0 + cast(id % 8 as double)))
                + 0.01 * cast(pmod(hash(id, d), 7) as double) as float)) as embedding""")
      .persist()
    clustered.count()
    val q = clustered.filter(col("vec_id") < 16)
    val exact = Similarity.bruteForceTopK(q, clustered, "vec_id", "embedding", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(q, clustered, "vec_id", "embedding", 3,
      nClusters = 8, nProbe = 2, iters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect ivf).size.toDouble / exact.size
    assert(recall >= 0.9, s"recall=$recall")
    // deterministic: same input -> identical result set
    val again = Similarity.ivfTopK(q, clustered, "vec_id", "embedding", 3,
      nClusters = 8, nProbe = 2, iters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again == ivf)
    clustered.unpersist()
  }

  test("embedding-cosine near-dup pairs: LSH candidates are a subset of exact; thresholds hold") {
    val exact = Similarity.cosineNearDups(embeddings, "vec_id", "embedding", 300,
        dim = 64, tables = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(exact.nonEmpty)
    assert(exact.forall { case (a, b, c) => a < b && c >= 300 })
    val viaLsh = Similarity.cosineNearDups(embeddings, "vec_id", "embedding", 300,
        dim = 64, tables = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(viaLsh.toSet.subsetOf(exact.toSet), "LSH produced a pair the exact pass rejects")
  }

  test("shipped cosine near-dup plan is a bucket join — no cartesian/BNLJ") {
    val emb = embeddings.withColumn("embedding", col("embedding").cast("array<double>"))
    val shipped = Similarity.cosineNearDups(emb, "vec_id", "embedding", 400,
      dim = 64, tables = 48, bits = 5)
    val plan = shipped.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      plan.linesIterator.take(40).mkString("\n"))
    // and it still finds exactly the exact pair set on the fixture
    val exact = Similarity.cosineNearDups(emb, "vec_id", "embedding", 400,
        dim = 64, tables = 0)
      .collect().map(_.toSeq).toSet
    assert(shipped.collect().map(_.toSeq).toSet == exact)
  }

  test("cosineNearDups DEFAULT path is the LSH candidate join — exact all-pairs is opt-in") {
    // VERDICT r4 hazard #1: a 100 TB caller omitting `tables` must land
    // on the bucket join, never the cartesian verification baseline
    val plan = Similarity.cosineNearDups(embeddings, "vec_id", "embedding", 400, dim = 64)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      plan.linesIterator.take(40).mkString("\n"))
  }

  test("degenerate embeddings (null / zero-norm) are excluded, never NaN-scored") {
    val sp = spark
    import sp.implicits._
    // ADVICE r4: cosine(zero-norm) is NaN; Spark's non-ANSI
    // floor(NaN).cast(long) folds to 0, so at minCosineMilli <= 0 a
    // degenerate pair would silently pass while DuckDB errors on
    // CAST(NaN AS BIGINT). Both operators must drop those rows up front.
    val df = Seq(
      (1L, 0, Seq(1.0f, 0.0f)), (2L, 0, Seq(0.999f, 0.04f)),
      (3L, 0, Seq(0.0f, 0.0f)),               // zero norm
      (4L, 0, null.asInstanceOf[Seq[Float]])) // null embedding
      .toDF("vec_id", "cluster", "embedding")
    val exact = Similarity.cosineNearDups(df, "vec_id", "embedding",
        minCosineMilli = -1000, dim = 2, tables = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact == Set((1L, 2L)), s"degenerate rows leaked into pairs: $exact")
    val lsh = Similarity.cosineNearDups(df, "vec_id", "embedding",
        minCosineMilli = -1000, dim = 2, tables = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact) && !lsh.exists(p => p._1 >= 3L || p._2 >= 3L))
    val sem = Similarity.semanticDupPairs(df, "vec_id", "embedding", "cluster", -1000)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sem == Set((1L, 2L)), s"degenerate rows leaked into semantic pairs: $sem")
  }

  test("semanticDupPairs: cluster-scoped — same-cluster dups found, cross-cluster invisible") {
    val sp = spark
    import sp.implicits._
    // vectors 1,2 near-identical in cluster 0; vector 3 identical to 1
    // but in cluster 1 (invisible by design); 4 in cluster 0 orthogonal
    val df = Seq(
      (1L, 0, Seq(1.0f, 0.0f)), (2L, 0, Seq(0.999f, 0.04f)),
      (3L, 1, Seq(1.0f, 0.0f)), (4L, 0, Seq(0.0f, 1.0f)))
      .toDF("vec_id", "cluster", "embedding")
    val got = Similarity.semanticDupPairs(df, "vec_id", "embedding", "cluster", 900)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 2L)))
  }

  test("semanticDupPairs with k-means clusters ⊆ exact pairs; recall measured on fixture") {
    val emb = embeddings.withColumn("embedding", col("embedding").cast("array<double>"))
    val clustered = Similarity.withKmeansCluster(emb, "vec_id", "embedding",
      nClusters = 8, iters = 2)
    val sem = Similarity.semanticDupPairs(clustered, "vec_id", "embedding", "cluster", 400)
      .collect().map(_.toSeq).toSet
    val exact = Similarity.cosineNearDups(emb, "vec_id", "embedding", 400,
        dim = 64, tables = 0)
      .collect().map(_.toSeq).toSet
    assert(sem.subsetOf(exact), "a cluster-scoped pair must be an exact pair")
    // measured 22/66 on this fixture at the LOOSE 400‰ threshold — 0.4
    // cosine is far from a semantic duplicate, so cross-cluster loss is
    // expected (the paper operates at ~0.95 where dups co-locate); the
    // contract pinned here is subset + deterministic non-trivial recall
    assert(exact.nonEmpty && sem.size * 5 >= exact.size,
      s"k-means cluster scoping lost nearly all recall: ${sem.size}/${exact.size}")
  }

  test("semanticDupPairs plan: cluster equi-join, no cartesian") {
    val sp = spark
    import sp.implicits._
    val df = (0L until 40L).map(i => (i, (i % 4).toInt,
      Seq.tabulate(8)(d => ((i * 31 + d * 7) % 13).toFloat)))
      .toDF("vec_id", "cluster", "embedding")
    val plan = Similarity.semanticDupPairs(df, "vec_id", "embedding", "cluster", 100)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      plan.linesIterator.take(40).mkString("\n"))
  }

  // ---- Multimodal ----

  test("multimodal plumbing: fake media decodes to features with exact byte stats") {
    val media = Multimodal.mediaTable(spark, 50)
    val feats = Multimodal.extractFeatures(spark, media)
    val rows = feats.collect()
    assert(rows.length == 50)
    rows.foreach { r =>
      val nBytes = r.getInt(2)
      val hist = r.getSeq[Long](4)
      assert(hist.sum == nBytes - 12, "histogram must cover the body bytes")
      assert(r.getLong(3) >= 0 && r.getLong(3) <= 1000)
    }
  }

  test("multimodal: corrupt media rows are dropped, not fatal") {
    val bad = spark.createDataFrame(Seq((99L, Array[Byte](1, 2, 3), "jpg", 1, 1)))
      .toDF("doc_id", "media", "format", "width", "height")
    val feats = Multimodal.extractFeatures(spark, Multimodal.mediaTable(spark, 5).unionByName(bad))
    assert(feats.count() == 5)
  }

  /** Hand-built 3×2 24-bit bottom-up BMP: top row red/green/blue, bottom
   *  row white/black/mid-gray. */
  private def bmp3x2: Array[Byte] = {
    val rowSize = 12 // ((3*3 + 3)/4)*4
    val b = java.nio.ByteBuffer.allocate(54 + 2 * rowSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put('B'.toByte).put('M'.toByte).putInt(54 + 2 * rowSize)
    b.putInt(0).putInt(54)          // reserved, data offset
    b.putInt(40).putInt(3).putInt(2) // BITMAPINFOHEADER, w=3, h=2 (bottom-up)
    b.putShort(1).putShort(24).putInt(0) // planes, bpp, BI_RGB
    b.position(54)
    // stored bottom-up, BGR: bottom row first
    b.put(Array[Byte](-1, -1, -1, 0, 0, 0, -128, -128, -128, 0, 0, 0))
    b.put(Array[Byte](0, 0, -1, 0, -1, 0, -1, 0, 0, 0, 0, 0))
    b.array()
  }

  test("multimodal REAL decode: 24-bit BMP to exact integer luma features (r5)") {
    // luma (BT.601 integer): red 76, green 149, blue 29 / white 255,
    // black 0, gray 128 → top-down body [76,149,29,255,0,128]
    val media = spark.createDataFrame(Seq((7L, bmp3x2, "bmp", 3, 2)))
      .toDF("doc_id", "media", "format", "width", "height")
    val r = Multimodal.extractFeatures(spark, media).collect().head
    assert(r.getLong(0) == 7L && r.getString(1) == "bmp")
    assert(r.getInt(2) == 78) // 54-byte header + 2 padded rows
    assert(r.getLong(3) == 637L * 1000 / (6 * 255)) // 416
    val hist = r.getSeq[Long](4)
    assert(hist.sum == 6)
    assert(Seq(0, 1, 4, 8, 9, 15).forall(i => hist(i) == 1L), hist.toString)
    assert(r.getInt(5) == 1 && r.getInt(6) == 1)
    // the decoder itself: top-down luma order is pinned
    val Some((w, h, body)) = Multimodal.decodeBmp(bmp3x2)
    assert((w, h) == ((3, 2)))
    assert(body.toSeq.map(_ & 0xFF) == Seq(76, 149, 29, 255, 0, 128))
    // truncated pixel data → dropped, not thrown
    assert(Multimodal.decodeBmp(bmp3x2.take(60)).isEmpty)
    // adversarial header: height = Int.MinValue survives Int abs() as a
    // negative value — must drop cleanly, never allocate (r5 review fix)
    val evil = bmp3x2.clone()
    java.nio.ByteBuffer.wrap(evil).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(22, Int.MinValue)
    assert(Multimodal.decodeBmp(evil).isEmpty)
  }

  test("multimodal REAL decode: P6 PPM with header comment (r5)") {
    val header = "P6\n# fixture\n2 2\n255\n".getBytes("US-ASCII")
    val px = Array[Byte](10, 20, 30, 0, 0, 0, -1, -1, -1, 100, 100, 100)
    val ppm = header ++ px
    val Some((w, h, body)) = Multimodal.decodePpm(ppm)
    assert((w, h) == ((2, 2)))
    assert(body.toSeq.map(_ & 0xFF) == Seq(18, 0, 255, 100))
    val media = spark.createDataFrame(Seq((8L, ppm, "ppm", 2, 2)))
      .toDF("doc_id", "media", "format", "width", "height")
    val r = Multimodal.extractFeatures(spark, media).collect().head
    assert(r.getInt(2) == ppm.length)
    assert(r.getLong(3) == 373L * 1000 / (4 * 255)) // 365
    val hist = r.getSeq[Long](4)
    assert(hist(0) == 1 && hist(1) == 1 && hist(6) == 1 && hist(15) == 1 && hist.sum == 4)
    // maxval > 255 / truncated raster / bad magic all drop cleanly
    assert(Multimodal.decodePpm("P6 2 2 65535 ".getBytes ++ px).isEmpty)
    assert(Multimodal.decodePpm(header ++ px.take(11)).isEmpty)
    assert(Multimodal.decodePpm("P5 2 2 255 ".getBytes ++ px).isEmpty)
  }

  /** Gray 9×8 P6 PPM from a luma function — at exactly 9×8 every dHash
   *  sample IS the pixel, so hashes are hand-computable. */
  private def ppm9x8(p: (Int, Int) => Int): Array[Byte] = {
    val header = "P6\n9 8\n255\n".getBytes("US-ASCII")
    val px = new Array[Byte](9 * 8 * 3)
    for (y <- 0 until 8; x <- 0 until 9) {
      val v = (p(x, y) & 0xFF).toByte
      val i = (y * 9 + x) * 3
      px(i) = v; px(i + 1) = v; px(i + 2) = v // equal RGB → luma == v
    }
    header ++ px
  }

  private def mediaOf(rows: (Long, Array[Byte])*): org.apache.spark.sql.DataFrame =
    spark.createDataFrame(rows.map { case (id, b) => (id, b, "ppm", 9, 8) })
      .toDF("doc_id", "media", "format", "width", "height")

  test("image dHash: hand-computed signatures at the 9x8 sample grid") {
    val asc = ppm9x8((x, _) => x * 20)       // every left < right → all 64 bits
    val desc = ppm9x8((x, _) => 200 - x * 20) // never → 0 bits
    val sigs = Multimodal.dhashSignatures(spark, mediaOf(1L -> asc, 2L -> desc))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) == -1L, "ascending gradient must set all 64 bits")
    assert(sigs(2L) == 0L, "descending gradient must set none")
  }

  test("imageNearDups: exact copy at dist 0, 1-bit variant within, inverse beyond") {
    val asc = ppm9x8((x, _) => x * 20)
    // flip exactly row 0's first comparison: pixel(0,0) brighter than pixel(1,0)
    val oneBit = ppm9x8((x, y) => if (y == 0 && x == 0) 25 else x * 20)
    val desc = ppm9x8((x, _) => 200 - x * 20)
    val media = mediaOf(1L -> asc, 2L -> asc.clone(), 3L -> oneBit, 4L -> desc,
      5L -> Array[Byte]('P', '6', ' ')) // corrupt: dropped, not fatal
    val pairs = Multimodal.imageNearDups(spark, media, maxDist = 6, nBlocks = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2).toLong).toMap
    assert(pairs((1L, 2L)) == 0L, "identical images collide at distance 0")
    assert(pairs((1L, 3L)) == 1L && pairs((2L, 3L)) == 1L)
    assert(!pairs.keySet.exists(p => p._1 == 4L || p._2 == 4L),
      "inverse gradient (distance 64) must not pair")
    assert(!pairs.keySet.exists(p => p._1 == 5L || p._2 == 5L),
      "undecodable row must drop silently")
  }

  test("dhashSignatures drops corrupt GRAFTIMG blobs (truncated body / bad dims)") {
    val ok = Multimodal.fakeMedia(1L, 12, 10)
    val truncated = ok.take(12 + 12 * 10 - 5) // body shorter than w*h
    val badDims = ok.clone()
    badDims(8) = 0xFF.toByte; badDims(9) = 0xFF.toByte // w = -1
    val media = spark.createDataFrame(Seq(
      (1L, ok, "img", 12, 10), (2L, truncated, "img", 12, 10),
      (3L, badDims, "img", 12, 10)))
      .toDF("doc_id", "media", "format", "width", "height")
    val ids = Multimodal.dhashSignatures(spark, media)
      .collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L), s"corrupt stub blobs must drop, got $ids")
  }

  test("imageNearDups equals brute-force hamming pairs on an LCG image set") {
    def lcgImg(id: Long, tweak: Int): Array[Byte] = {
      var s = id * 6364136223846793005L + 1442695040888963407L
      ppm9x8 { (x, y) =>
        s = s * 6364136223846793005L + 1442695040888963407L
        val v = (((s >>> 33) + x * 3 + y * 5) & 0xFF).toInt
        // tweak > 0: overwrite a few sampled cells so planted variants
        // land within a small hamming distance of their base image
        if (tweak > 0 && y == 0 && x < tweak) 255 - v else v
      }
    }
    val base = (0L until 40L).map(id => id -> lcgImg(id, 0))
    val planted = Seq( // near-dups of bases 3 and 17, one exact copy
      100L -> lcgImg(3L, 0), 101L -> lcgImg(3L, 2), 102L -> lcgImg(17L, 3))
    val media = mediaOf(base ++ planted: _*)
    val got = Multimodal.imageNearDups(spark, media, maxDist = 6, nBlocks = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2).toLong)).toSet
    assert(got.exists(_._3 == 0L), "the planted exact copy must appear at dist 0")
    assert(got.size >= 2, "planted near-dups must appear")
    val sigs = Multimodal.dhashSignatures(spark, media)
    val brute = sigs.as("x").join(sigs.as("y"), col("x.id") < col("y.id"))
      .select(col("x.id"), col("y.id"),
        expr("bit_count(x.simhash ^ y.simhash)").cast("long").as("d"))
      .filter(col("d") <= 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == brute, s"bucket join missed or invented pairs: got=${got.size} brute=${brute.size}")
  }

  test("multimodal: mixed real + fixture formats in one pass, corrupt rows dropped") {
    val mixed = Multimodal.mediaTable(spark, 3)
      .unionByName(spark.createDataFrame(Seq(
        (100L, bmp3x2, "bmp", 3, 2),
        (101L, Array[Byte]('B', 'M', 1), "bmp", 1, 1))) // corrupt
        .toDF("doc_id", "media", "format", "width", "height"))
    val feats = Multimodal.extractFeatures(spark, mixed)
    assert(feats.count() == 4)
    assert(feats.filter(col("doc_id") === 100L).count() == 1)
  }
}
