package graft

import graft.functions.{BpeMatcher, BpeTokenCount}
import graft.text.{Bpe, TextOps}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** tx3b: the vocab-driven greedy longest-match tokenizer. Closed-form
  * fixtures pin the greedy semantics; an independent reference
  * implementation cross-checks the fused expression on real corpus text;
  * and both Catalyst paths (interpreted eval + whole-stage codegen) must
  * agree.
  */
class BpeSpec extends SparkSuite {

  // straightforward reference implementation, deliberately structured
  // differently from BpeMatcher's fused loop
  private def refCount(text: String, vocab: Seq[String]): Long = {
    val vs = vocab.toSet
    val maxLen = if (vocab.isEmpty) 0 else vocab.map(_.length).max
    text.split("[ \t\n\f\r]+").filter(_.nonEmpty).map { w =>
      var pos = 0; var c = 0L
      while (pos < w.length) {
        val step = (math.min(maxLen, w.length - pos) to 1 by -1)
          .find(l => vs.contains(w.substring(pos, pos + l)))
          .getOrElse(Character.charCount(w.codePointAt(pos)))
        pos += step; c += 1
      }
      c
    }.sum
  }

  test("closed-form greedy longest-match fixtures") {
    val m = new BpeMatcher(Array("table", "ta", "ble", "th", "the", "in", "ing"))
    def n(s: String) = m.countTokens(UTF8String.fromString(s))
    assert(n("table") === 1) // whole-word match beats ta+ble
    assert(n("tables") === 2) // table + s fallback
    assert(n("thing") === 2) // greedy: th + ing (not the+...)
    assert(n("the") === 1)
    assert(n("xyz") === 3) // all fallback
    assert(n("") === 0)
    assert(n("   \t\n ") === 0) // whitespace only
    assert(n("ta ble  the") === 3) // words split independently
    assert(n("😀the") === 2) // astral char = ONE fallback token
  }

  test("fused matcher equals the reference implementation on corpus text") {
    val docs = sf("documents").select("text").collect().map(_.getString(0))
    assert(docs.nonEmpty)
    val m = new BpeMatcher(Bpe.mergesDefault.toArray)
    docs.foreach { t =>
      assert(m.countTokens(UTF8String.fromString(t)) === refCount(t, Bpe.mergesDefault))
    }
  }

  test("expression agrees across codegen and interpreted paths, and with SQL registration") {
    val df = sf("documents").select(col("doc_id"), TextOps.bpeCount(col("text")).as("n"))
    val expected = sf("documents")
      .collect().map(r => r.getLong(0) -> refCount(r.getString(r.fieldIndex("text")), Bpe.mergesDefault))
      .toMap
    val got = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === expected)
    // interpreted path (no codegen): same numbers
    withSQLConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      val gotInterp = sf("documents")
        .select(col("doc_id"), TextOps.bpeCount(col("text")).as("n"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(gotInterp === expected)
    }
    // SQL form (the session carries the function)
    sf("documents").createOrReplaceTempView("bpe_docs")
    val gotSql = spark.sql("SELECT doc_id, bpe_token_count(text) AS n FROM bpe_docs")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotSql === expected)
  }

  test("null text stays null; vocab rides the plan (serializable)") {
    import spark.implicits._
    val df = Seq((1L, "the table"), (2L, null.asInstanceOf[String]))
      .toDF("id", "text")
      .select(col("id"), TextOps.bpeCount(col("text")).as("n"))
    val rows = df.collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(rows === Map(1L -> 2L, 2L -> -1L))
    // round-trip the expression through java serialization (what a real
    // cluster does to ship tasks); the transient hash set must rebuild
    val e = BpeTokenCount(org.apache.spark.sql.catalyst.expressions.Literal("the table"),
      Bpe.mergesDefault)
    val bos = new java.io.ByteArrayOutputStream()
    new java.io.ObjectOutputStream(bos).writeObject(new BpeMatcher(Bpe.mergesDefault.toArray))
    val back = new java.io.ObjectInputStream(
      new java.io.ByteArrayInputStream(bos.toByteArray)).readObject().asInstanceOf[BpeMatcher]
    assert(back.countTokens(UTF8String.fromString("the table")) ===
      e.eval(null).asInstanceOf[Long])
  }
}
