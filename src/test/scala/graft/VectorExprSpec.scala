package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row

/** The native expressions must be BIT-identical to the interpreted
  * higher-order / builtin forms they replace — that identity is what
  * keeps the DuckDB oracles valid.
  */
class VectorExprSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("VecDot == aggregate(zip_with(...)) bit-for-bit on random float vectors") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val vecs = (1 to 30).map { _ =>
      (Array.fill(64)(rnd.nextFloat() * 20 - 10), Array.fill(64)(rnd.nextFloat() * 20 - 10))
    }
    val df = vecs.toDF("a", "b")
    val hof = aggregate(zip_with(col("a"), col("b"),
      (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)
    val native = graft.functions.VectorFunctions.vec_dot(col("a"), col("b"))
    df.select(hof, native).collect().foreach { case Row(h: Double, n: Double) =>
      assert(java.lang.Double.doubleToLongBits(h) == java.lang.Double.doubleToLongBits(n))
    }
  }

  test("SrpSigs == compositional per-plane vec_dot form on real and random embeddings") {
    import spark.implicits._
    // real embeddings table: every (firstPlane, nPlanes) combo the ops use
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    for ((first, n) <- Seq((0, 8), (0, 4), (8, 6), (24, 12))) {
      val rows = e.select(
        graft.ops.SimilarityOps.srpBucketCompositional(n, first).as("hof"),
        graft.functions.SrpSigs.srp_sigs(col("embedding"), first, n).as("native"))
        .collect()
      rows.foreach(r => assert(r.getString(0) == r.getString(1)))
    }
    // random vectors incl. exact zeros (sign boundary), NaN elements
    // (Spark `>=` is NaN-is-greater → bit '1'), a short vector and a
    // NULL vector (vec_dot NULL-poisoning → when(...) falls through to
    // an all-'0' bucket, never NULL). Column is named 'embedding'
    // because the compositional helper binds to it.
    val rnd = new scala.util.Random(7)
    val vecs = (1 to 50).map { i =>
      Array.fill(64)(rnd.nextInt(10) match {
        case 0 => 0.0f
        case 1 if i % 5 == 0 => Float.NaN
        case _ => rnd.nextFloat() * 2 - 1
      })
    }.map(Tuple1(_)) ++ Seq(Tuple1(Array(1.0f, 2.0f)), Tuple1(null: Array[Float]))
    val df = vecs.toDF("embedding")
    val rows = df.select(
      graft.ops.SimilarityOps.srpBucketCompositional(8).as("hof"),
      graft.functions.SrpSigs.srp_sigs(col("embedding"), 0, 8).as("native")).collect()
    rows.foreach { r =>
      assert(!r.isNullAt(1), "native bucket must never be NULL")
      assert(r.getString(0) == r.getString(1),
        s"hof=${r.getString(0)} native=${r.getString(1)}")
    }
  }

  test("VecDot handles double arrays and nulls") {
    import spark.implicits._
    val df = Seq((Array(1.0, 2.0), Array(3.0, 4.0))).toDF("a", "b")
    assert(df.select(graft.functions.VectorFunctions.vec_dot(col("a"), col("b")))
      .head().getDouble(0) == 11.0)
    val withNull = df.select(
      graft.functions.VectorFunctions.vec_dot(lit(null).cast("array<double>"), col("b")))
    assert(withNull.head().isNullAt(0))
  }

  test("VecDot NULL semantics match the HOF form: null element and length mismatch") {
    val df = spark.sql(
      """SELECT array(CAST(1.0 AS DOUBLE), NULL) AS ne,
                array(CAST(1.0 AS DOUBLE)) AS short,
                array(CAST(1.0 AS DOUBLE), CAST(2.0 AS DOUBLE)) AS full""")
    def hof(a: String, b: String) = expr(
      s"aggregate(zip_with($a, $b, (x, y) -> x * y), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)")
    def native(a: String, b: String) =
      graft.functions.VectorFunctions.vec_dot(col(a), col(b))
    val r = df.select(
      hof("ne", "full"), native("ne", "full"),
      hof("short", "full"), native("short", "full")).head()
    assert(r.isNullAt(0) && r.isNullAt(1), "null element -> NULL on both")
    assert(r.isNullAt(2) && r.isNullAt(3), "length mismatch -> NULL on both")
  }

  test("MinHashSigs == min(substr(md5(k:shingle),1,16)) over exploded shingles") {
    import spark.implicits._
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog",
      "one two",             // <3 words → whole text
      "",                    // empty
      "a b c",
      "repeated repeated repeated repeated words words")
    val d = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")

    // reference form: explode → md5 per (k, shingle) → min
    val words = split(col("text"), " ")
    val sh = when(size(words) >= 3,
      transform(sequence(lit(0), size(words) - 3),
        i => concat_ws(" ", element_at(words, i + 1), element_at(words, i + 2),
          element_at(words, i + 3))))
      .otherwise(array(col("text")))
    val exploded = d.select(col("doc_id"), explode(sh).as("shingle"))
    val refCols = (0 until 8).map(k =>
      min(substring(md5(concat(lit(s"$k:"), col("shingle"))), 1, 16)).as(s"mh$k"))
    val ref = exploded.groupBy(col("doc_id")).agg(refCols.head, refCols.tail: _*)
      .collect().map(r => r.getLong(0) -> (1 to 8).map(r.getString)).toMap

    val got = d.select(col("doc_id"),
      graft.functions.MinHashFunctions.minhash_sigs(col("text"), 8).as("mh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap

    texts.indices.foreach { i =>
      assert(got(i.toLong) == ref(i.toLong), s"doc $i")
    }
  }

  test("SimHash16 == exploded md5-vote aggregation, corpus and edge strings") {
    import spark.implicits._
    // full corpus parity: the ops-level pair must agree doc for doc
    val dir = "/root/testdata/sf0.001"
    val native = graft.ops.DedupOps.simhash(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val ref = graft.ops.DedupOps.simhashCompositional(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(native.size == 500 && native == ref)

    // edge strings: empties from split (leading/trailing/double spaces),
    // single token, unicode, vote ties (sum == 0 must emit '1')
    val texts = Seq("", " ", "  ", "a", "a b", " a  b ", "ação é ação",
      ("x " * 50).trim)
    val d = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val tokens = d.select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .withColumn("h", md5(col("tok")))
    val votes = (0 until 16).map { i =>
      sum(when(substring(col("h"), i + 1, 1).isin("8", "9", "a", "b", "c", "d", "e", "f"), 1)
        .otherwise(-1)).as(s"v$i")
    }
    val agg = tokens.groupBy(col("doc_id")).agg(votes.head, votes.tail: _*)
    val bits = (0 until 16).map(i => when(col(s"v$i") >= 0, "1").otherwise("0"))
    val refEdge = agg.select(col("doc_id"), concat(bits: _*).as("simhash"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val gotEdge = d.select(col("doc_id"),
      graft.functions.SimHashFunctions.simhash16(col("text")).as("simhash"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    refEdge.foreach { case (id, sig) =>
      assert(gotEdge(id) == sig, s"doc $id (${texts(id.toInt)})")
    }
  }

  test("ShingleJaccard == array_intersect/array_union distinct form") {
    import spark.implicits._
    val pairs = Seq(
      ("the quick brown fox jumps", "the quick brown fox sleeps"),
      ("a b c d", "a b c d"),
      ("one two", "one two"),          // <3 words both
      ("x y z w", "totally different words here"))
    val df = pairs.toDF("ta", "tb")
    def shingleArr(c: org.apache.spark.sql.Column) = {
      val w = split(c, " ")
      array_distinct(when(size(w) >= 3,
        transform(sequence(lit(0), size(w) - 3),
          i => concat_ws(" ", element_at(w, i + 1), element_at(w, i + 2),
            element_at(w, i + 3)))).otherwise(array(c)))
    }
    val refCol = size(array_intersect(shingleArr(col("ta")), shingleArr(col("tb"))))
      .cast("double") / size(array_union(shingleArr(col("ta")), shingleArr(col("tb"))))
    val rows = df.select(refCol.as("ref"),
      graft.functions.ShingleFunctions.shingle_jaccard(col("ta"), col("tb")).as("got"))
      .collect()
    rows.foreach(r => assert(r.getDouble(0) == r.getDouble(1), r))
  }

  test("SRP candidate recall pinned on the sf0.001 fixture") {
    // the banded-SRP approximation-quality gauge is deterministic
    // (md5-derived planes, fixed fixture): freeze the per-query recall
    // so any ppb/nBands/plane-derivation regression moves a pinned
    // value. Values match the SRP collision model p = 1 - θ/π,
    // P(candidate) = 1 - (1 - p^ppb)^4 with ppb = planesPerBand(500) = 6:
    // moderate-cos neighbors collide rarely on isotropic embeddings
    // (see srpRecall's scaladoc) — low recall here is the honest number.
    val got = graft.ops.SimilarityOps.srpRecall(spark, "/root/testdata/sf0.001")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val expected = Map(0L -> 0.0, 1L -> 0.4, 2L -> 0.0, 3L -> 0.0, 4L -> 0.6,
      5L -> 0.2, 6L -> 0.0, 7L -> 0.0, 8L -> 0.2, 9L -> 0.4)
    assert(got == expected)
  }
}
