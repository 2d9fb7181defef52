package graft

import graft.api.Queries
import org.scalatest.funsuite.AnyFunSuite

import java.security.MessageDigest
import scala.io.Source

/** Pins every registry row's DuckDB oracle text, so moving replay SQL between
  * files or into shared fragments cannot change what the oracle runs. The
  * golden `oracle_sql_sha256.tsv` holds one `name<TAB>sha256` line per row
  * ("none" for a row without an oracle). Before hashing, each run of
  * whitespace outside single-quoted literals collapses to one space, and is
  * dropped right after `(` or right before `)`, where SQL never needs it; so
  * a shared fragment may break its lines differently from the copies it
  * replaces. Literals compare byte for byte. No SparkSession: the oracle
  * strings are plain values.
  */
class OracleSqlSpec extends AnyFunSuite {

  private def normalize(sql: String): String = {
    val out = new StringBuilder
    var quoted = false
    var i = 0
    while (i < sql.length) {
      val c = sql.charAt(i)
      if (c == '\'') quoted = !quoted
      if (!quoted && c.isWhitespace) {
        while (i + 1 < sql.length && sql.charAt(i + 1).isWhitespace) i += 1
        val afterOpen = out.nonEmpty && out.last == '('
        val beforeClose = i + 1 < sql.length && sql.charAt(i + 1) == ')'
        if (!afterOpen && !beforeClose) out += ' '
      } else out += c
      i += 1
    }
    out.toString
  }

  private def sha256(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def golden: Map[String, String] = {
    val src = Source.fromResource("oracle_sql_sha256.tsv", getClass.getClassLoader)
    try src.getLines().filter(_.nonEmpty).map { l =>
      val Array(name, hash) = l.split('\t'); name -> hash
    }.toMap finally src.close()
  }

  test("every registry row keeps its oracle text, up to whitespace outside literals") {
    val actual = Queries.all.map { case (name, q) => name -> q.oracle.fold("none")(o => sha256(normalize(o))) }
    val expected = golden
    if (actual != expected)
      println(actual.toSeq.sorted.map { case (n, h) => s"$n\t$h" }.mkString("[oracle-sql]\n", "\n", ""))
    assert(expected.size == 176)
    assert(actual.keySet == expected.keySet,
      s"missing: ${(expected.keySet -- actual.keySet).toSeq.sorted}; extra: ${(actual.keySet -- expected.keySet).toSeq.sorted}")
    val changed = expected.keys.filter(n => actual(n) != expected(n)).toSeq.sorted
    assert(changed.isEmpty, s"oracle text changed: ${changed.mkString(", ")}")
  }

  test("the registry union refuses a name that two families register") {
    val q = Queries.Q((s, _) => s.emptyDataFrame, None)
    val e = intercept[IllegalArgumentException] {
      Queries.union(Map("a" -> q, "b" -> q), Map("c" -> q), Map("b" -> q))
    }
    assert(e.getMessage.contains("b"))
    assert(Queries.union(Map("a" -> q), Map("c" -> q)).keySet === Set("a", "c"))
  }
}
