package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Native text-sketch expression family (graft_word_fps /
  * graft_shingle_set / graft_minhash / graft_simhash /
  * graft_shingle_hash64) vs the interpreted HOF compositions they
  * replace in the dedup battery — bitwise equality on edge-case corpora
  * (unicode, multi-space empty tokens, short docs), because the DuckDB
  * oracles keep the HOF arithmetic.
  */
class TextSketchSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark

  private val P = 2147483647L
  private def hofFp(x: String): String =
    s"aggregate(split($x, ''), CAST(7 AS BIGINT), (acc, c) -> (acc * 31 + ascii(c)) % $P)"

  private def corpus = {
    import spark.implicits._
    Seq(
      "the quick brown fox jumps over the lazy dog",
      "the quick brown fox jumps over the lazy dog",  // exact dup
      "quick brown fox jumps over the lazy dog",      // near dup
      "café naïve résumé touché encore une fois",
      "emoji 😀 and 中文 words mixed in here",
      "one two three",
      "exactly four tokens here",
      "short doc",   // below shingle threshold
      "solo",
      "numbers 123 456 789 0 42 end"
    ).zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      .selectExpr("doc_id", "split(text, ' ') AS tokens")
      .filter(size(col("tokens")) >= 3)
  }

  test("graft_word_fps matches the per-token aggregate fold bitwise") {
    val rows = corpus.selectExpr(
      "graft_word_fps(tokens) AS native",
      s"transform(tokens, w -> ${hofFp("w")}) AS hof").collect()
    rows.foreach { r => assert(r.getSeq[Long](0) == r.getSeq[Long](1)) }
  }

  test("graft_shingle_set matches array_distinct(transform(sequence…)) bitwise") {
    val shingleHof =
      s"""array_distinct(transform(sequence(1, size(wfps) - 2),
         |i -> (element_at(wfps, i) * 961 + element_at(wfps, i + 1) * 31 +
         |element_at(wfps, i + 2)) % $P))""".stripMargin
    val rows = corpus
      .selectExpr("graft_word_fps(tokens) AS wfps")
      .selectExpr("graft_shingle_set(wfps) AS native", s"$shingleHof AS hof")
      .collect()
    rows.foreach { r => assert(r.getSeq[Long](0) == r.getSeq[Long](1)) }
  }

  test("graft_minhash matches per-perm array_min folds; empty set gives nulls") {
    val perms = Seq((1000003L, 12345L), (999983L, 54321L), (999979L, 11111L))
    val spec = perms.map { case (a, b) => s"$a,$b" }.mkString(";")
    val hof = perms.map { case (a, b) =>
      s"array_min(transform(shset, x -> ($a * x + $b) % $P))" }
    val rows = corpus
      .selectExpr("graft_shingle_set(graft_word_fps(tokens)) AS shset")
      .selectExpr(s"graft_minhash(shset, '$spec') AS native",
        s"array(${hof.mkString(",")}) AS hofArr")
      .collect()
    rows.foreach { r => assert(r.getSeq[Any](0) == r.getSeq[Any](1)) }
    val empty = spark.sql(
      s"SELECT graft_minhash(array_remove(array(1L), 1L), '3,5') AS m").head()
    assert(empty.getSeq[Any](0) == Seq(null))
  }

  test("graft_simhash matches the per-bit vote folds bitwise") {
    val bitExprs = (0 until 8).map { b =>
      s"(CASE WHEN aggregate(wfps, CAST(0 AS BIGINT), (acc, f) -> acc + " +
        s"(CASE WHEN ((f * ${2 * b + 3} + ${b * 7919}) % 65537) % 2 = 1 " +
        s"THEN 1 ELSE -1 END)) > 0 THEN ${1 << b} ELSE 0 END)"
    }
    val rows = corpus
      .selectExpr("graft_word_fps(tokens) AS wfps")
      .selectExpr("graft_simhash(wfps, 8) AS native",
        s"CAST(${bitExprs.mkString(" + ")} AS BIGINT) AS hof")
      .collect()
    rows.foreach { r => assert(r.getLong(0) == r.getLong(1)) }
  }

  test("graft_shingle_hash64 produces the same distinct-count structure as string shingles") {
    // join-key hash: values are free, but per-doc set SIZE must equal the
    // string-shingle set size (collision-free at this scale) and equal
    // docs must produce equal sets
    val stringShingles =
      """array_distinct(transform(sequence(1, size(tokens) - 2),
        |i -> concat_ws(' ', element_at(tokens, i), element_at(tokens, i + 1),
        |element_at(tokens, i + 2))))""".stripMargin
    val rows = corpus.selectExpr(
      "doc_id",
      "graft_shingle_hash64(tokens) AS native",
      s"$stringShingles AS strings").collect()
    rows.foreach { r =>
      assert(r.getSeq[Long](1).size == r.getSeq[String](2).size)
    }
    val byDoc = rows.map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(byDoc(0L) == byDoc(1L)) // exact dup docs → identical shingle sets
  }

  test("graft_shingle_hashes keeps positions: same structure as positional string k-grams") {
    // positional join-key hash: element i must key tokens [i, i+k-1] —
    // so length is n-k+1, equal windows hash equal, distinct windows
    // hash distinct (collision-free at this scale), and NO dedup: a
    // repeated window appears at both its positions.
    val stringGrams =
      """transform(sequence(1, size(tokens) - 4),
        |i -> concat_ws(' ', slice(tokens, i, 5)))""".stripMargin
    val rows = corpus.filter(size(col("tokens")) >= 5).selectExpr(
      "doc_id",
      "graft_shingle_hashes(tokens, 5) AS native",
      s"$stringGrams AS strings").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val native = r.getSeq[Long](1)
      val strings = r.getSeq[String](2)
      assert(native.size == strings.size) // positional: n-k+1, no dedup
      // hash-equality structure must mirror string-equality structure
      for (i <- strings.indices; j <- strings.indices)
        assert((native(i) == native(j)) == (strings(i) == strings(j)),
          s"doc ${r.getLong(0)} positions $i,$j")
    }
    // "the quick brown fox ..." doc 0 == doc 1 (exact dup): same arrays
    val byDoc = rows.map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(byDoc(0L) == byDoc(1L))
    // near-dup doc 2 drops the first token: its grams are doc 0's
    // shifted by one position
    assert(byDoc(2L) == byDoc(0L).drop(1))
    // short input (< k tokens) → empty array, k=1 → per-token hashes
    val edge = spark.sql(
      "SELECT graft_shingle_hashes(array('a', 'b'), 5) AS a, " +
        "graft_shingle_hashes(array('a', 'b', 'a'), 1) AS b").head()
    assert(edge.getSeq[Long](0).isEmpty)
    val b = edge.getSeq[Long](1)
    assert(b.size == 3 && b(0) == b(2) && b(0) != b(1))
    // null token → the windows covering it are null elements
    val n = spark.sql(
      "SELECT graft_shingle_hashes(array('a', 'b', NULL, 'c', 'd', 'e'), 2) AS x").head()
    val x = n.getSeq[Any](0)
    assert(x.size == 5 && x(1) == null && x(2) == null &&
      x(0) != null && x(3) != null && x(4) != null)
  }

  test("graft_shingle_hashes randomized: structure matches string k-grams globally") {
    // seeded randomized property (ChunkerSpec pattern — no scalacheck
    // bridge offline): for random token arrays over a small vocab
    // (forcing window collisions) with ~5% null tokens, the positional
    // hash must (a) have length max(0, n-k+1), (b) be null exactly on
    // windows covering a null token, (c) agree with string-window
    // equality WITHIN and ACROSS documents (it is a global join key),
    // (d) give distinct hashes to distinct windows at this scale.
    val rnd = new scala.util.Random(42)
    val vocab = Vector("a", "bb", "café", "中文", "x1", "", "dog", "βeta")
    val docs = (0 until 200).map { i =>
      val n = rnd.nextInt(13)
      val toks = Vector.fill(n)(
        if (rnd.nextInt(20) == 0) null else vocab(rnd.nextInt(vocab.size)))
      (i.toLong, toks)
    }
    import spark.implicits._
    val df = docs.toDF("id", "tokens")
    for (k <- Seq(1, 2, 3, 5)) {
      val byId = df.selectExpr("id", s"graft_shingle_hashes(tokens, $k) AS h")
        .collect().map(r => r.getLong(0) -> r.getSeq[Any](1)).toMap
      val globalKey = scala.collection.mutable.Map[String, Any]()
      docs.foreach { case (id, toks) =>
        val expectedLen = math.max(0, toks.length - k + 1)
        val h = byId(id)
        assert(h.size == expectedLen, s"id=$id k=$k length")
        val grams = (0 until expectedLen).map { i =>
          val w = toks.slice(i, i + k)
          if (w.contains(null)) null else w.mkString(" ")
        }
        grams.indices.foreach { i =>
          if (grams(i) == null) assert(h(i) == null, s"id=$id k=$k pos=$i null")
          else {
            assert(h(i) != null, s"id=$id k=$k pos=$i non-null")
            globalKey.get(grams(i)) match {
              case Some(prev) => assert(prev == h(i),
                s"k=$k gram '${grams(i)}' hashed inconsistently across docs")
              case None => globalKey(grams(i)) = h(i)
            }
          }
        }
      }
      assert(globalKey.values.toSeq.distinct.size == globalKey.size,
        s"k=$k distinct windows must get distinct hashes at this scale")
    }
  }

  test("null contract: null array → null; null token → null element") {
    val r = spark.sql(
      "SELECT graft_word_fps(CAST(NULL AS ARRAY<STRING>)) AS a, " +
        "graft_word_fps(array('x', CAST(NULL AS STRING), 'y')) AS b, " +
        "graft_shingle_hash64(array('a', NULL, 'b', 'c', 'd')) AS c").head()
    assert(r.isNullAt(0))
    val b = r.getSeq[Any](1)
    assert(b(1) == null && b(0) != null && b(2) != null)
    val c = r.getSeq[Any](2)
    assert(c.contains(null)) // windows crossing the null token collapse to one null
  }

  test("graft_stopword_stats matches the filter/aggregate HOFs bitwise") {
    val stopSql = "('the', 'a', 'is', 'of', 'and', 'to', 'in')"
    val rows = corpus.selectExpr(
      "graft_stopword_stats(tokens, 'the,a,is,of,and,to,in') AS native",
      s"size(filter(tokens, t -> t IN $stopSql)) AS hof_hits",
      "aggregate(tokens, CAST(0 AS BIGINT), (a, w) -> a + length(w)) AS hof_len")
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val native = r.getSeq[Any](0)
      assert(native(0) == r.getInt(1).toLong.asInstanceOf[Any]) // size() is INT
      assert(native(1) == r.getLong(2).asInstanceOf[Any])
    }
    // null-token contract: filter drops the null (IN → null), the
    // length fold is poisoned to null; multibyte tokens count codepoints
    val edge = spark.sql(
      "SELECT graft_stopword_stats(array('the', CAST(NULL AS STRING), '中文😀'), " +
        "'the,a') AS sw, " +
        "graft_stopword_stats(CAST(NULL AS ARRAY<STRING>), 'the') AS n," +
        "graft_stopword_stats(array('café'), 'the')[1] AS cafe_len").head()
    val sw = edge.getSeq[Any](0)
    assert(sw(0) == 1L.asInstanceOf[Any] && sw(1) == null)
    assert(edge.isNullAt(1))
    assert(edge.getLong(2) == 4L) // café = 4 codepoints, not 5 bytes
  }

  test("graft_shingle_fps == the concat_ws/slice HOF it replaced, incl. null/empty/non-ASCII") {
    import spark.implicits._
    val rows: Seq[Seq[String]] = Seq(
      Seq("the", "quick", "brown", "fox"),
      Seq("café", "naïve", "中文", "😀", "x"),
      Seq("a", null, "b", "c", "d"), // concat_ws SKIPS the null
      Seq(null, null, null, "tail"), // all-null window folds '' -> 7
      Seq("", "empty", "", "tokens"), // empties still separated
      Seq("a", "b"), // shorter than k -> empty array
      Seq("solo", "pair", "tri"))
    val df = rows.toDF("tokens")
    val k = 3
    val hof = df.selectExpr(
      s"CASE WHEN size(tokens) < $k THEN CAST(array() AS array<bigint>) " +
        s"ELSE transform(sequence(1, size(tokens) - ${k - 1}), " +
        s"i -> graft_str_fp(concat_ws(' ', slice(tokens, i, $k)))) END AS fps")
      .collect().map(_.getSeq[Any](0))
    val native = df.selectExpr(s"graft_shingle_fps(tokens, $k) AS fps")
      .collect().map(_.getSeq[Any](0))
    hof.zip(native).zipWithIndex.foreach { case ((h, n), i) =>
      assert(h == n, s"row $i: HOF $h != native $n")
    }
  }

  test("whole-stage codegen keeps the stopword census fused") {
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .selectExpr("graft_stopword_stats(split(text, ' '), 'the,a,is')[0] AS hits")
    val wsc = df.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }
    assert(wsc.exists(_.collect {
      case p: org.apache.spark.sql.execution.ProjectExec => p
    }.exists(_.projectList.exists(_.toString.contains("graft_stopword_stats")))))
  }

  test("whole-stage codegen keeps the sketch projection fused") {
    // a local-collection corpus constant-folds to a LocalTableScan —
    // read parquet so there is a real projection stage to audit
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .selectExpr("split(text, ' ') AS tokens")
      .selectExpr("graft_minhash(graft_shingle_set(graft_word_fps(tokens)), '7,11') AS sig")
    val wsc = df.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }
    assert(wsc.exists(_.collect {
      case p: org.apache.spark.sql.execution.ProjectExec => p
    }.exists(_.projectList.exists(_.toString.contains("graft_minhash")))))
  }
}
