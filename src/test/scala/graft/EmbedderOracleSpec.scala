package graft

import graft.functions.HashingEmbedder
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.util.hashing.MurmurHash3

/** Pins the exact murmur3_x86_32 values the m1_embed_pipeline oracle replays in
  * DuckDB SQL (api/queries/OracleSql.scala mhMul/mhRotl/mhK/mhMixLambda).
  * The goldens below were computed independently (bit-level replica of the public murmur3
  * finalization, cross-checked against DuckDB's replay) — if Scala's
  * `MurmurHash3.stringHash` ever changed, this spec and the oracle would fail
  * together, loudly.
  */
class EmbedderOracleSpec extends AnyFunSuite with SparkSuite {

  test("MurmurHash3.stringHash(seed=42) matches the oracle's bit-level goldens") {
    val goldens = Map(
      "data" -> -1549211253,
      "pipeline" -> 34975522,
      "quality" -> 2097036136,
      "data pipeline" -> -992595255,
      "pipeline quality" -> -342102053,
      "a" -> -1293573533,
      "abc" -> 292716463,
      "x1y2z" -> -664542552,
      "z9" -> 88756790,
      "" -> 142593372)
    for ((s, expected) <- goldens)
      assert(MurmurHash3.stringHash(s, 42) === expected, s"for '$s'")
  }

  test("embedder feature placement matches the oracle's idx/sign derivation") {
    // idx = floorMod(h, 64) == (unsigned h) % 64; sign = +1 iff top bit clear.
    // For "data pipeline": features data(idx 11,-1), pipeline(idx 34,+1),
    // "data pipeline"(idx 9,-1) — all distinct, so the vector is ±1/sqrt(3).
    val v = HashingEmbedder.default.embed("data pipeline")
    val inv3 = (1.0 / math.sqrt(3.0)).toFloat
    assert(v.length === 64)
    assert(v(11) === -inv3)
    assert(v(34) === inv3)
    assert(v(9) === -inv3)
    assert(v.zipWithIndex.filter(_._1 != 0f).map(_._2).toSet === Set(9, 11, 34))
  }

  test("attachEmbeddings equals the buildChunks embedding code path") {
    val s = spark
    import s.implicits._
    val texts = Seq("Alpha beta gamma", "  ", "x1 y2 z3 x1", null)
    val df = texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("id", "t")
    val out = graft.operators.Indexing
      .attachEmbeddings(df, "t", HashingEmbedder.default)
      .orderBy("id").collect()
    for ((row, i) <- out.zipWithIndex) {
      val direct = HashingEmbedder.default.embed(
        if (texts(i) == null) "" else texts(i))
      assert(row.getAs[scala.collection.Seq[Float]]("embedding").toArray
        .sameElements(direct), s"row $i")
    }
    // zero-feature texts embed to the zero vector (norm skipped), never NaN
    assert(out(1).getAs[scala.collection.Seq[Float]]("embedding").forall(_ == 0f))
  }
}
