package graft.expressions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** TokenGramHash: equality classes must match the '_'-joined gram
  * strings the DuckDB oracle computes; short/empty/null handled.
  */
class TokenGramHashSpec extends SparkSpec {
  private lazy val s = spark
  import s.implicits._

  /** Reference gram strings via split semantics. */
  private def grams(text: String, k: Int): Seq[String] = {
    val toks = text.split(" ", -1).toSeq
    if (toks.length < k) Seq.empty
    else (0 to toks.length - k).map(i => toks.slice(i, i + k).mkString("_"))
  }

  /** One text's gram hashes, from an RDD so the projection runs through
    * whole-stage codegen (asserted).
    */
  private def hashes(text: String, k: Int): Seq[Seq[Byte]] = {
    val df = spark.sparkContext.parallelize(Seq(text), 1).toDF("text")
      .select(TokenGramHash(col("text"), k).as("h"))
    assertCodegenProject(df, classOf[TokenGramHash])
    df.collect()(0).getSeq[Array[Byte]](0).map(_.toSeq)
  }

  test("hash equality classes equal gram-string equality classes") {
    val texts = Seq(
      "a b c d e a b c d e a b c",   // repeated grams within a doc
      "x a b c d y",
      "a  b c d",                    // consecutive spaces -> empty token
      "a_b c d e",                   // the oracle's join ambiguity kept
      "a b_c d e")                   // ...these two must COLLIDE at k=3
    val k = 3
    // map gram string -> set of hashes observed for it, across all texts
    val seen = scala.collection.mutable.Map.empty[String, Set[Seq[Byte]]]
    val hashToGram = scala.collection.mutable.Map.empty[Seq[Byte], Set[String]]
    for (t <- texts) {
      val g = grams(t, k)
      val h = hashes(t, k)
      assert(g.length == h.length, s"window count mismatch for '$t'")
      g.zip(h).foreach { case (gs, hs) =>
        seen(gs) = seen.getOrElse(gs, Set.empty) + hs
        hashToGram(hs) = hashToGram.getOrElse(hs, Set.empty) + gs
      }
    }
    // same joined gram string -> same hash (determinism, and the '_'
    // ambiguity collapses to the same key here exactly as in the oracle)
    assert(seen.values.forall(_.size == 1), s"gram hashed two ways: $seen")
    // different joined gram string -> different hash on this corpus
    assert(hashToGram.values.forall(_.size == 1),
      s"hash collision between distinct grams: $hashToGram")
  }

  test("'_'-join ambiguity is mirrored exactly: a_b|c == a|b_c") {
    val h1 = hashes("a_b c x y z", 2).head // gram "a_b_c"
    val h2 = hashes("a b_c x y z", 2).head // gram "a_b_c" too
    assert(h1 == h2)
  }

  test("leading NUL byte is not a hash no-op") {
    // with h0 = 0 a 0x00-prefixed gram would collide with its
    // unprefixed twin in BOTH lanes at once
    val h1 = hashes("\u0000a b c", 3)
    val h2 = hashes("a b c", 3)
    assert(h1.head != h2.head)
  }

  test("short, empty, and null inputs") {
    assert(hashes("a b", 3).isEmpty)     // fewer than k tokens
    assert(hashes("", 1).length == 1)    // empty text = one empty token
    assert(hashes("a b c", 3).length == 1)
    val r = Seq(Option.empty[String]).toDF("text")
      .select(TokenGramHash(col("text"), 3)).collect()(0)
    assert(r.isNullAt(0))
  }

  test("SQL registration: any integral literal k accepted, junk rejected") {
    TokenGramHash.register(spark.sessionState.functionRegistry)
    Seq("a b c d").toDF("text").createOrReplaceTempView("tgh_docs")
    def one(q: String) =
      spark.sql(q).collect()(0).getSeq[Array[Byte]](0).map(_.toSeq)
    val int2 = one("SELECT graft_token_gram_hash(text, 2) FROM tgh_docs")
    assert(int2.length == 3)
    assert(one("SELECT graft_token_gram_hash(text, CAST(2 AS BIGINT)) FROM tgh_docs") == int2)
    def fails(q: String, msg: String): Unit = {
      val e = intercept[org.apache.spark.sql.AnalysisException](spark.sql(q).collect())
      assert(e.getMessage.contains(msg), s"got: ${e.getMessage}")
    }
    fails("SELECT graft_token_gram_hash(text) FROM tgh_docs", "2 arguments")
    fails("SELECT graft_token_gram_hash(text, 'x') FROM tgh_docs", "integral literal")
    fails("SELECT graft_token_gram_hash(text, 0) FROM tgh_docs", "out of range")
  }

  test("codegen and interpreted eval agree") {
    val text = "one two three four five six"
    val fromPlan = hashes(text, 4)
    val interp = TokenGramHash(
      org.apache.spark.sql.catalyst.expressions.Literal(
        org.apache.spark.unsafe.types.UTF8String.fromString(text)), 4)
      .eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val interpSeq = (0 until interp.numElements())
      .map(i => interp.getBinary(i).toSeq)
    assert(fromPlan == interpSeq)
  }
}
