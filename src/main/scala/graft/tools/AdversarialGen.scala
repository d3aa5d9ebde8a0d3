package graft.tools

import org.apache.spark.sql.SparkSession

/** Adversarial oracle-divergence corpus (VERDICT r4 task 7).
  *
  * Every round-3/4 ADVICE divergence had the shape "only safe because the
  * generator never emits X" (URLs with embedded `?`, caption mismatches on
  * absent captions, hash-collision ties). This generator EMITS the X's —
  * a deterministic mini-corpus of the edge rows the sf generators never
  * produce — so the full Spark-vs-DuckDB oracle sweep (graft.Verify +
  * tools/check.py pointed at the output dir) exercises every query pair on
  * hostile input:
  *
  *  - documents: empty / whitespace-only / single-char / sub-shingle
  *    texts, repeated exact copies of the EMPTY string, NFC-vs-NFD
  *    accent twins, brace/punctuation-only rows, embedded-URL text with
  *    `?` inside query values, PII strings, a single-word spam doc
  *    (winnow/minhash degenerate), docs with fewer words than the ngram
  *    width, tab/CRLF whitespace, non-Latin scripts, a NULL text row,
  *    sparse 10^10-magnitude doc_ids (prefix-sum bucketing over huge
  *    ranges), plus a small normal slice with planted near-dup pairs so
  *    recall-bearing queries still have signal;
  *  - embeddings: the all-zero vector (zero-norm cosine), exact
  *    duplicates, axis vectors, antipodal pairs, denormal-magnitude
  *    values, plus normal vectors with planted near-neighbors;
  *  - events: exact-timestamp ties, hour-boundary rows, a NULL
  *    timestamp, empty/junk props and event types, and only
  *    binary-exact values (powers-of-two fractions) so distributed sum
  *    order cannot manufacture spurious FP divergence;
  *  - relational tables are copied from the source sf dir unchanged
  *    (q1/q2 and the sim family keep their semantics).
  *
  * Usage: runMain graft.tools.AdversarialGen <srcSfDir> <outDir>
  */
object AdversarialGen {

  private val vocab = Vector("the", "fast", "key", "order", "sort", "table",
    "scan", "merge", "part", "window", "small", "hash", "join", "batch",
    "stream", "spark", "dup", "node", "graph", "edge")

  private def lcg(seed: Long): Iterator[Long] =
    Iterator.iterate(seed)(x => x * 6364136223846793005L + 1442695040888963407L).drop(1)

  private def doc(seed: Long, words: Int): String = {
    val r = lcg(seed)
    (0 until words).map(_ => vocab(((r.next() >>> 33) % vocab.size).toInt)).mkString(" ")
  }

  def documents(spark: SparkSession): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val edge: Seq[(java.lang.Long, String)] = Seq(
      (0L, ""), // empty
      (1L, "   "), // whitespace only
      (2L, "a"),
      (3L, "abc"), // below shingle k
      (4L, "abc"), // exact dup of 3
      (5L, "café résumé naïve quality text here"), // NFC
      (6L, "café résumé naïve quality text here"), // NFD twin of 5
      (7L, "{weird} [brackets] (parens) <angle> content"),
      (8L, "!!!???...;;;"), // punctuation only -> empty after normalize
      (9L, "see http://Example.com/A?next=https://inner.host/p?x=1&utm_source=z#frag now"),
      (10L, "contact john.doe@example.com or +1-555-123-4567 today"),
      (11L, Seq.fill(60)("spam").mkString(" ")), // single repeated word
      (12L, "one two"), // fewer words than ngram n
      (13L, "line1\n\tline2\r\nline3"),
      (14L, ""), // second empty (empty-content bucket)
      (15L, ""), // third empty
      (16L, "ZZZZ AAAA zzzz aaaa MiXeD CaSe"),
      (17L, "日本語のテキスト 中文文本 текст here"),
      (18L, "word1 123 456 word2 99 000 7"),
      (19L, null), // NULL text
      (20L, doc(777L, 300)), // long doc
      (21L, doc(777L, 300).replaceFirst("the", "zzz")) // near-dup of 20
    )
    // sparse huge ids exercise id-range bucketing
    val huge: Seq[(java.lang.Long, String)] = Seq(
      (10000000000L, doc(50L, 40)),
      (10000000007L, doc(50L, 40) + " tail"), // near-dup at a huge id
      (99999999999L, doc(51L, 25)))
    // normal slice: 60 docs, every 10th a near-dup of its predecessor
    val normal: Seq[(java.lang.Long, String)] = (100L until 160L).map { i =>
      val base = doc(i, 60 + (i % 40).toInt)
      val t = if (i % 10 == 9) doc(i - 1, 60 + ((i - 1) % 40).toInt) + " extra" else base
      (java.lang.Long.valueOf(i), t)
    }
    val all = edge ++ huge ++ normal
    all.map { case (id, t) =>
      val langs = Seq("en", "es", "", null)
      (id, t, langs(((id: Long) % 4).toInt.abs),
        s"src${(id: Long) % 3}", if (t == null) 0L else t.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  def embeddings(spark: SparkSession): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val dim = 64
    def unit(seed: Long): Array[Float] = {
      val r = lcg(seed)
      val v = Array.fill(dim)(((r.next() >>> 33).toDouble / (1L << 31).toDouble) - 0.5)
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    def perturb(v: Array[Float], eps: Float, at: Int): Array[Float] = {
      val w = v.clone(); w(at) = w(at) + eps; w
    }
    val axis = { val a = Array.fill(dim)(0f); a(0) = 1f; a }
    val edge: Seq[(Long, Array[Float], Int)] = Seq(
      (0L, Array.fill(dim)(0f), 0), // zero vector: zero-norm cosine
      (1L, axis, 0),
      (2L, axis.map(x => -x), 0), // antipodal of 1
      (3L, unit(42L), 1),
      (4L, unit(42L), 1), // exact duplicate of 3
      (5L, Array.fill(dim)(1e-30f), 0), // denormal magnitudes
      (6L, perturb(unit(42L), 0.01f, 7), 1)) // near-dup of 3/4
    val normal: Seq[(Long, Array[Float], Int)] = (10L until 70L).map { i =>
      val v = if (i % 10 == 9) perturb(unit(i - 1), 0.02f, (i % 64).toInt) else unit(i)
      (i, v, ((i: Long) % 5).toInt)
    }
    (edge ++ normal).toDF("vec_id", "embedding", "label")
  }

  def events(spark: SparkSession): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    def ts(s: String): java.sql.Timestamp =
      if (s == null) null else java.sql.Timestamp.valueOf(s)
    // binary-exact values only: distributed sum order must not introduce
    // FP divergence the semantics don't have
    val vals = Seq(0.0, 0.5, -1.25, 2.0, 1024.0)
    val edge: Seq[(Long, java.sql.Timestamp, java.lang.Long, String, Double, String)] = Seq(
      (0L, ts("2024-01-01 00:00:00"), 1L, "view", 0.5, "{}"), // exact hour boundary
      (1L, ts("2024-01-01 00:00:00"), 1L, "view", 0.5, "{}"), // full tie of 0
      (2L, ts("2024-01-01 00:59:59"), 1L, "buy", 2.0, ""),
      (3L, ts("2024-01-01 01:00:00"), 2L, "", -1.25, "not json"), // empty type
      (4L, null, 3L, "view", 0.0, "{}"), // NULL timestamp
      (5L, ts("2024-01-01 02:30:00"), 4L, "日本", 1024.0, "{\"k\":1}"))
    val normal = (10L until 210L).map { i =>
      val h = (i % 6).toInt; val m = (i * 7 % 60).toInt; val s = (i * 13 % 60).toInt
      (i, ts(f"2024-01-01 $h%02d:$m%02d:$s%02d"), java.lang.Long.valueOf(i % 9),
        Seq("view", "click", "buy")((i % 3).toInt), vals((i % 5).toInt),
        if (i % 7 == 0) "" else "{}")
    }
    (edge ++ normal).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
  }

  /** Write `df` as a SINGLE parquet file at `outDir/name.parquet` — the
    * driver's testdata layout (tools/check.py reads each table as one
    * file, not a directory).
    */
  private def writeSingle(df: org.apache.spark.sql.DataFrame,
                          outDir: String, name: String): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val tmp = s"$outDir/_tmp_$name"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = Files.list(Paths.get(tmp)).filter(_.getFileName.toString.endsWith(".parquet"))
      .findFirst().get()
    Files.createDirectories(Paths.get(outDir))
    Files.move(part, Paths.get(s"$outDir/$name.parquet"), StandardCopyOption.REPLACE_EXISTING)
    // clean the temp dir
    Files.walk(Paths.get(tmp)).sorted(java.util.Comparator.reverseOrder())
      .forEach(p => Files.deleteIfExists(p))
  }

  def writeCorpus(spark: SparkSession, srcDir: String, outDir: String): Unit = {
    val relational = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem")
    relational.foreach { t =>
      writeSingle(spark.read.parquet(s"$srcDir/$t.parquet"), outDir, t)
    }
    writeSingle(documents(spark), outDir, "documents")
    writeSingle(embeddings(spark), outDir, "embeddings")
    writeSingle(events(spark), outDir, "events")
  }

  def main(args: Array[String]): Unit = {
    val srcDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outDir = if (args.length > 1) args(1) else "/tmp/graft_adversarial"
    val spark = graft.Bench.session(Runtime.getRuntime.availableProcessors)
    try writeCorpus(spark, srcDir, outDir) finally spark.stop()
    println(s"ADVERSARIAL_CORPUS=$outDir")
  }
}
