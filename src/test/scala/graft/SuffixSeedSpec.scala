package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Bit-parity gates for the r16 suffix-seed kernels
  * (plans/SuffixSeedExpression.scala) against the declarative forms they
  * replaced in SuffixArray.charPositions / windowsOf / hashedWindows.
  */
class SuffixSeedSpec extends AnyFunSuite with SparkSuite {
  import graft.plans.SuffixSeedFunctions._

  private val rnd = new scala.util.Random(20260818)
  private def randomText(): String = {
    val alphabets = Seq(
      "abcdefghij XYZ0123",          // ASCII incl. upper/digits/space
      "abc déjà vu ümlaut",          // latin-1 two-byte codepoints
      "日本語テキスト abc",            // three-byte codepoints
      "emoji 😀🎉 mix abc",           // four-byte (surrogate) codepoints
      "aaaaaaaaaaaaaaaaaaaa")        // degenerate repeats
    val a = alphabets(rnd.nextInt(alphabets.size))
    val len = rnd.nextInt(30)
    (0 until len).map(_ => a(rnd.nextInt(a.length))).mkString
  }

  private def docs() = {
    import spark.implicits._
    val rows = (0 until 120).map(i => (i.toLong, randomText())) ++
      Seq((1000L, ""), (1001L, null.asInstanceOf[String]))
    rows.toDF("id", "text")
  }

  /** ASCII-only corpus — the packed seed path is ASCII-guarded in
    * SuffixArray (asciiSeedSafe), because codes > 127 overflow the 128-base
    * pack; widths ≥ 2 are only ever evaluated on inputs passing that guard.
    */
  private def asciiDocs() = {
    import spark.implicits._
    val a = "abcdefghij XYZ0123!-"
    val rows = (0 until 120).map { i =>
      (i.toLong, (0 until rnd.nextInt(30)).map(_ => a(rnd.nextInt(a.length))).mkString)
    } ++ Seq((1000L, ""), (1001L, null.asInstanceOf[String]))
    rows.toDF("id", "text")
  }

  test("PackedCharWindows == declarative ascii pack for widths 1..9") {
    for (w <- Seq(1, 2, 5, 9)) {
      // width 1 never multiplies, so it is exact (and used) on ANY text —
      // the non-ASCII fallback path; wider packs only see ASCII-safe input
      val d = if (w == 1) docs() else asciiDocs()
      val codes =
        if (w == 1) "transform(sequence(1, length(text)), i -> ascii(substring(text, i, 1)))"
        else "transform(split(text, ''), c -> ascii(c))"
      val packed =
        if (w == 1) "transform(_codes, c -> CAST(c AS BIGINT))"
        else s"""transform(sequence(1, _len),
                |  i -> aggregate(sequence(0, ${w - 1}), CAST(0 AS BIGINT),
                |    (acc, j) -> acc * 128L + coalesce(try_element_at(_codes, i + j), 0)))""".stripMargin
      val legacy = d.select(col("id"), expr(codes).as("_codes"),
          coalesce(length(col("text")), lit(0)).as("_len"))
        .select(col("id"), expr(
          s"CASE WHEN _len >= 1 THEN $packed ELSE CAST(array() AS ARRAY<BIGINT>) END").as("a"))
      val kernel = d.select(col("id"),
        coalesce(packedCharWindows(col("text"), w), expr("CAST(array() AS ARRAY<BIGINT>)")).as("a"))
      val l = legacy.orderBy("id").collect().map(_.toString)
      val k = kernel.orderBy("id").collect().map(_.toString)
      assert(l.toSeq === k.toSeq, s"width $w")
    }
  }

  test("CharWindows(fullOnly=false) == declarative suffix-prefix transform") {
    val d = docs()
    for (w <- Seq(2, 10, 24, 128)) {
      val legacy = d.select(col("id"), expr(
        s"""CASE WHEN length(text) >= 1
           |  THEN transform(sequence(1, length(text)), i -> substring(text, i, $w))
           |  ELSE CAST(array() AS ARRAY<STRING>) END""".stripMargin).as("a"))
      val kernel = d.select(col("id"),
        coalesce(charWindows(col("text"), w, fullOnly = false),
          expr("CAST(array() AS ARRAY<STRING>)")).as("a"))
      assert(legacy.orderBy("id").collect().map(_.toString).toSeq ===
        kernel.orderBy("id").collect().map(_.toString).toSeq, s"width $w")
    }
  }

  test("CharWindows(fullOnly=true) == declarative full-window transform") {
    val d = docs()
    for (w <- Seq(2, 5, 16, 24)) {
      val legacy = d.select(col("id"), expr(
        s"""CASE WHEN length(text) >= $w
           |  THEN transform(sequence(1, length(text) - ${w - 1}),
           |                 i -> substring(text, i, $w))
           |  ELSE CAST(array() AS ARRAY<STRING>) END""".stripMargin).as("a"))
      val kernel = d.select(col("id"),
        coalesce(charWindows(col("text"), w, fullOnly = true),
          expr("CAST(array() AS ARRAY<STRING>)")).as("a"))
      assert(legacy.orderBy("id").collect().map(_.toString).toSeq ===
        kernel.orderBy("id").collect().map(_.toString).toSeq, s"width $w")
    }
  }

  test("truncated UTF-8: packed_char_windows equals ascii(), char_windows stops at the end") {
    // a lead byte whose continuation bytes are missing: at the end of the
    // text, before ASCII, and with one of its two continuation bytes
    val d = spark.sql("""SELECT id, cast(unhex(h) AS STRING) AS text FROM VALUES
      |  (1L, '41E3'), (2L, 'C3'), (3L, 'E341'), (4L, '41E382'), (5L, 'F09F98'),
      |  (6L, '61C3A9E3') AS t(id, h)""".stripMargin)
    val legacyCodes = d.select(col("id"), expr(
      """CASE WHEN length(text) >= 1
        |  THEN transform(sequence(1, length(text)), i -> CAST(ascii(substring(text, i, 1)) AS BIGINT))
        |  ELSE CAST(array() AS ARRAY<BIGINT>) END""".stripMargin).as("a"))
    val kernelCodes = d.select(col("id"),
      coalesce(packedCharWindows(col("text"), 1), expr("CAST(array() AS ARRAY<BIGINT>)")).as("a"))
    assert(legacyCodes.orderBy("id").collect().map(_.toString).toSeq ===
      kernelCodes.orderBy("id").collect().map(_.toString).toSeq)
    // the windows keep every byte of the text and stop at its end; the
    // interpreted substring copies the cut sequence's missing bytes from
    // past the end of the value, so it can only be matched up to there
    for (w <- Seq(1, 2); fullOnly <- Seq(false, true)) {
      val last = if (fullOnly) s"length(text) - ${w - 1}" else "length(text)"
      val legacy = d.select(col("id"), expr(
        s"""CASE WHEN length(text) >= ${if (fullOnly) w else 1}
           |  THEN transform(sequence(1, $last), i -> hex(substring(text, i, $w)))
           |  ELSE CAST(array() AS ARRAY<STRING>) END""".stripMargin).as("a"))
      val kernel = d.select(col("id"),
        coalesce(transform(charWindows(col("text"), w, fullOnly), hex(_)),
          expr("CAST(array() AS ARRAY<STRING>)")).as("k"))
      legacy.join(kernel, "id").collect().foreach { r =>
        val (l, k) = (r.getSeq[String](1), r.getSeq[String](2))
        assert(l.size === k.size && l.zip(k).forall { case (a, b) => a.startsWith(b) },
          s"width $w fullOnly $fullOnly id ${r.get(0)}: $l vs $k")
      }
    }
    val first = d.where("id = 1")
      .select(transform(charWindows(col("text"), 2, fullOnly = false), hex(_)))
      .head().getSeq[String](0)
    assert(first === Seq("41E3", "E3"))
  }

  test("JoinedTokenWindows == declarative shingle/window transforms") {
    val d = docs().select(col("id"),
      graft.plans.TokenizeFunctions.engineTokenize(
        coalesce(col("text"), lit(""))).as("_t"))
    for (n <- Seq(1, 3, 8)) {
      // withShingles' shape: whole-doc fallback for docs shorter than n
      val parts = (0 until n).map(j => s"element_at(_t, CAST(i + $j AS INT))").mkString(", ")
      val legacyShingles = d.select(col("id"), expr(
        s"""CASE WHEN size(_t) < $n THEN array(array_join(_t, ' '))
           |ELSE transform(sequence(1, size(_t) - ${n - 1}),
           |       i -> concat_ws(' ', $parts)) END""".stripMargin).as("sh"))
      val kernelShingles = d.select(col("id"),
        graft.plans.SuffixSeedFunctions.joinedTokenWindows(
          col("_t"), n, shortFallback = true).as("sh"))
      assert(legacyShingles.orderBy("id").collect().map(_.toString).toSeq ===
        kernelShingles.orderBy("id").collect().map(_.toString).toSeq, s"shingles n=$n")
      // repeatedSpans/exactTokenSpans' shape: size >= n filtered, no fallback
      val fd = d.where(size(col("_t")) >= n)
      val legacyWins = fd.select(col("id"), expr(
        s"transform(sequence(1, size(_t) - ${n - 1}), " +
          s"i -> array_join(slice(_t, i, $n), ' '))").as("w"))
      val kernelWins = fd.select(col("id"),
        graft.plans.SuffixSeedFunctions.joinedTokenWindows(
          col("_t"), n, shortFallback = false).as("w"))
      assert(legacyWins.orderBy("id").collect().map(_.toString).toSeq ===
        kernelWins.orderBy("id").collect().map(_.toString).toSeq, s"windows n=$n")
    }
  }

  test("DeletionVariants == declarative SymSpell neighborhood (contents and order)") {
    // the retired Suggest.deletionVariants SQL builder, verbatim
    def legacyExpr(e: String, maxEdits: Int): String = {
      def del1(s: String, v: String): String =
        s"transform(sequence(1, length($s)), $v -> " +
          s"concat(substring($s, 1, $v - 1), substring($s, $v + 1)))"
      val d1 = del1(e, "i")
      if (maxEdits == 1) s"array_distinct(concat(array($e), $d1))"
      else {
        val d2 = s"flatten(transform($d1, w0 -> CASE WHEN length(w0) = 0 " +
          s"THEN CAST(array() AS ARRAY<STRING>) ELSE ${del1("w0", "j")} END))"
        s"array_distinct(concat(array($e), $d1, $d2))"
      }
    }
    import spark.implicits._
    val terms = (Seq("a", "ab", "query", "tabel", "déjà", "日本語", "xx😀y", "aaaa") ++
      (0 until 60).map(_ => randomText().replace(" ", "").take(10)))
      .filter(_.nonEmpty).map(Tuple1(_))
    val d = terms.toDF("t")
    for (me <- Seq(1, 2)) {
      val legacy = d.select(col("t"), expr(legacyExpr("t", me)).as("v"))
      val kernel = d.select(col("t"),
        graft.plans.SuffixSeedFunctions.deletionVariants(col("t"), me).as("v"))
      assert(legacy.orderBy("t").collect().map(_.toString).toSeq ===
        kernel.orderBy("t").collect().map(_.toString).toSeq, s"maxEdits=$me")
    }
  }

  test("hashed windows through the kernel equal xxhash64 over the lambda form") {
    val d = docs()
    val w = 8
    val legacy = d.select(col("id"), explode(expr(
      s"""CASE WHEN length(text) >= $w
         |  THEN transform(sequence(1, length(text) - ${w - 1}),
         |                 i -> xxhash64(substring(text, i, $w)))
         |  ELSE CAST(array() AS ARRAY<BIGINT>) END""".stripMargin)).as("g"))
    val kernel = d.select(col("id"),
        explode(charWindows(col("text"), w, fullOnly = true)).as("_w"))
      .select(col("id"), expr("xxhash64(_w)").as("g"))
    assert(legacy.orderBy("id", "g").collect().map(_.toString).toSeq ===
      kernel.orderBy("id", "g").collect().map(_.toString).toSeq)
  }
}
