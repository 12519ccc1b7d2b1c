package graft

import graft.enrich.HashEmbedder
import graft.functions.EmailFunctions._
import graft.functions.TextFunctions._
import graft.functions.VectorFunctions._
import org.apache.spark.sql.functions._

/** SURVEY §5.2 property tests: bulk invariant checks over seeded random
  * corpora, evaluated in single DataFrame passes. */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new scala.util.Random(42)
  private def randString(maxLen: Int): String = {
    val chars = "abcXYZ 012!@#$%^&*()_+-=[]{}<>/\\|\"'\n\téß漢"
    (0 until rnd.nextInt(maxLen)).map(_ => chars(rnd.nextInt(chars.length))).mkString
  }

  test("slug: charset-safe, bounded, idempotent over random inputs") {
    val inputs = (1 to 300).map(_ => randString(80))
    val got = inputs.toDF("t")
      .select(slug(col("t")).as("s1"))
      .withColumn("s2", slug(col("s1")))
      .as[(String, String)].collect()
    got.foreach { case (s1, s2) =>
      assert(s1.matches("[a-z0-9-]{1,50}") || s1 == "untitled", s"bad slug: $s1")
      assert(s2 == s1, s"not idempotent: $s1 -> $s2")
    }
  }

  test("nfcNormalize: golden vectors, idempotence, ASCII identity fast path") {
    import graft.functions.NfcNormalize.nfcNormalize
    val decomposedE = "e\u0301cole"  // e + combining acute
    val composedE = "\u00e9cole"      // é as one codepoint
    val hangulJamo = "\u1100\u1161" // choseong kiyeok + jungseong a
    val hangulSyllable = "\uac00"    // precomposed syllable
    val cases = Seq(
      decomposedE -> composedE,
      composedE -> composedE,
      hangulJamo -> hangulSyllable,
      "plain ascii stays" -> "plain ascii stays",
      "" -> "")
    val got = cases.map(_._1).toDF("t")
      .select(nfcNormalize(col("t")).as("n1"))
      .withColumn("n2", nfcNormalize(col("n1")))
      .as[(String, String)].collect()
    got.zip(cases).foreach { case ((n1, n2), (in, expect)) =>
      assert(n1 == expect, s"NFC(${in.map(_.toInt.toHexString)}) = " +
        s"${n1.map(_.toInt.toHexString)}, want ${expect.map(_.toInt.toHexString)}")
      assert(n2 == n1, "NFC must be idempotent")
    }
    // random corpus: idempotent and length-bounded (NFC never grows a
    // string's codepoint count beyond composition limits)
    val rs = (1 to 200).map(_ => randString(60))
    rs.toDF("t").select(nfcNormalize(col("t")).as("a"))
      .withColumn("b", nfcNormalize(col("a")))
      .as[(String, String)].collect()
      .foreach { case (a, b) => assert(a == b) }
  }

  test("cosine: symmetric, bounded, self≈1, zero-norm→0") {
    val vecs = (1 to 200).map(_ => Seq.fill(16)(rnd.nextFloat() * 2 - 1))
    val pairs = vecs.zip(vecs.reverse).toDF("a", "b")
    val got = pairs.select(
      cosineSim(col("a"), col("b")).as("ab"),
      cosineSim(col("b"), col("a")).as("ba"),
      cosineSim(col("a"), col("a")).as("aa")).collect()
    got.foreach { r =>
      assert(r.getDouble(0) == r.getDouble(1)) // exact symmetry
      assert(math.abs(r.getDouble(0)) <= 1.0 + 1e-9)
      assert(math.abs(r.getDouble(2) - 1.0) < 1e-9)
    }
    val zero = Seq((Seq.fill(16)(0.0f), vecs.head)).toDF("a", "b")
      .select(cosineSim(col("a"), col("b"))).as[Double].collect()(0)
    assert(zero == 0.0)
  }

  test("cosine expression == builtin fold, bit for bit") {
    val vecs = (1 to 100).map(_ => (Seq.fill(24)(rnd.nextFloat()), Seq.fill(24)(rnd.nextFloat())))
    val got = vecs.toDF("a", "b").select(
      cosineSim(col("a"), col("b")).as("expr"),
      cosineSimBuiltin(col("a"), col("b")).as("builtin")).collect()
    got.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
  }

  test("base64 round trip over random bytes") {
    val inputs = (1 to 200).map { _ =>
      val b = new Array[Byte](rnd.nextInt(64)); rnd.nextBytes(b); b
    }
    val got = inputs.toDF("b")
      .select(col("b"), fromBase64(toBase64(col("b"))).as("rt"))
      .as[(Array[Byte], Array[Byte])].collect()
    got.foreach { case (in, out) => assert(in.toSeq == out.toSeq) }
  }

  test("fromBase64: a remainder of one base64 character reads as null, valid input decodes") {
    // "QUJDR" leaves one character over a whole 4-character unit, which
    // unbase64 rejects with "Last unit does not have enough valid bits".
    val got = Seq("QUJDR", "QUJD").toDF("s").select(fromBase64(col("s")))
      .as[Array[Byte]].collect()
    assert(got(0) == null)
    assert(new String(got(1), "UTF-8") == "ABC")
  }

  test("jaccard: bounded, reflexive on non-empty sets") {
    val sets = (1 to 200).map(_ =>
      (1 to (1 + rnd.nextInt(10))).map(_ => s"w${rnd.nextInt(20)}").distinct.sorted)
    val df = sets.zip(sets.reverse).toDF("a", "b")
    val got = df.select(
      jaccard(col("a"), col("b")).as("ab"),
      jaccard(col("a"), col("a")).as("aa")).collect()
    got.foreach { r =>
      assert(r.getDouble(0) >= 0.0 && r.getDouble(0) <= 1.0)
      assert(r.getDouble(1) == 1.0)
    }
  }

  test("sortedIntersectSize == size(array_intersect) on sorted distinct arrays") {
    import graft.functions.ArrayFunctions.sortedIntersectSize
    val strPairs = (1 to 200).map { _ =>
      def set() = (1 to rnd.nextInt(15)).map(_ => s"t${rnd.nextInt(30)}").distinct.sorted
      (set(), set())
    }
    val gotStr = strPairs.toDF("a", "b").select(
      sortedIntersectSize(col("a"), col("b")).as("fast"),
      size(array_intersect(col("a"), col("b"))).as("ref")).collect()
    gotStr.foreach(r => assert(r.getInt(0) == r.getInt(1)))
    val longPairs = (1 to 200).map { _ =>
      def set() = (1 to rnd.nextInt(15)).map(_ => rnd.nextInt(40).toLong).distinct.sorted
      (set(), set())
    }
    val gotLong = longPairs.toDF("a", "b").select(
      sortedIntersectSize(col("a"), col("b")).as("fast"),
      size(array_intersect(col("a"), col("b"))).as("ref")).collect()
    gotLong.foreach(r => assert(r.getInt(0) == r.getInt(1)))
  }

  test("hashedShingles: cardinality and set behavior match the string-shingle spec") {
    import graft.functions.HashedShinglesFunctions.hashedShingles
    import graft.functions.TextFunctions.shingles
    val docs = (1 to 100).map(_ =>
      (1 to (1 + rnd.nextInt(30))).map(_ => s"w${rnd.nextInt(25)}").mkString(" "))
    val got = docs.toDF("text")
      .select(
        hashedShingles(split(col("text"), " "), 3).as("h"),
        array_sort(array_distinct(shingles(split(col("text"), " "), 3))).as("s"))
      .as[(Seq[Long], Seq[String])].collect()
    got.foreach { case (h, s) =>
      assert(h.length == s.length, "hash-set cardinality must equal string-set cardinality")
      assert(h == h.sorted && h.distinct == h, "output must be sorted distinct")
    }
    // permutation-invariance of the SET: same doc twice → identical arrays
    val dup = Seq(("a b c d e", 1), ("a b c d e", 2)).toDF("text", "i")
      .select(hashedShingles(split(col("text"), " "), 3).as("h"))
      .as[Seq[Long]].collect()
    assert(dup(0) == dup(1))
  }

  test("fingerprint: whitespace/case-invariant, content-sensitive") {
    val got = Seq(
      ("Hello   World", "hello world"),
      ("a\tb\nc", "a b c"),
      ("different", "texts")).toDF("x", "y")
      .select(fingerprint(col("x")) === fingerprint(col("y"))).as[Boolean].collect()
    assert(got(0) && got(1) && !got(2))
  }

  test("hash embedder: unit norm, stable across JVM instances, text-sensitive") {
    val e = new HashEmbedder(dim = 48)
    val texts = (1 to 50).map(i => s"doc $i ${randString(20)}")
    val v1 = e.embedBatch(texts)
    val v2 = new HashEmbedder(dim = 48).embedBatch(texts)
    v1.zip(v2).foreach { case (a, b) => assert(a.toSeq == b.toSeq) }
    v1.foreach { v =>
      val n = math.sqrt(v.map(x => x.toDouble * x.toDouble).sum)
      assert(math.abs(n - 1.0) < 1e-4)
    }
    assert(v1.map(_.toSeq).distinct.length == texts.length)
  }

  test("TsTokens expression == declarative tsTokens HOF pipeline") {
    import graft.functions.EmailFunctions.tsTokens
    import graft.functions.TsTokensFunctions.tsTokensFast
    val inputs = Seq("The running Dogs; chased CATS!", "", "   ", "漢字 mixed UP 42x",
      "a-b_c d", "stopwords the and of in is") ++ (1 to 200).map(_ => randString(60))
    val got = inputs.toDF("t").select(
      tsTokens(col("t")).as("spec"),
      tsTokensFast(coalesce(col("t"), lit(""))).as("fast"))
      .as[(Seq[String], Seq[String])].collect()
    got.zip(inputs).foreach { case ((spec, fast), in) =>
      assert(spec == fast, s"mismatch on: $in")
    }
  }

  test("MinHashSignature expression == declarative per-seed minhash spec") {
    import graft.functions.TextFunctions.{minhashSignature, minhashSignatureSpec, shingles, tokens}
    val inputs = Seq("a b c d e f g", "one", "", "x y x y x y",
      "the quick brown fox jumps over the lazy dog") ++
      (1 to 200).map(_ => randString(80))
    val got = inputs.toDF("t")
      .select(shingles(tokens(col("t")), 3).as("sh"))
      .select(minhashSignature(col("sh"), 4).as("fast"),
        minhashSignatureSpec(col("sh"), 4).as("spec"))
      .as[(Seq[String], Seq[String])].collect()
    got.zip(inputs).foreach { case ((fast, spec), in) =>
      assert(fast == spec, s"mismatch on: $in")
    }
  }

  test("SimHash16 expression == declarative explode×16 groupBy pipeline") {
    import graft.functions.SimHash16.simhash16
    val texts = Seq("a b c d e f g", "one", "x y x y x y",
      "the quick brown fox jumps over the lazy dog", "") ++
      (1 to 200).map(_ => randString(80))
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val fast = df.select(col("doc_id"),
      simhash16(array_distinct(tokens(col("text")))).as("simhash"))
      .as[(Long, Long)].collect().toMap
    val spec = graft.queries.TextOpsQueries.simhashOfSpec(df)
      .as[(Long, Long)].collect().toMap
    // groupBy form drops token-less docs; split("", " ") = [""] so every
    // doc appears on both sides here
    assert(spec.keySet == fast.keySet)
    spec.foreach { case (id, sig) =>
      assert(fast(id) == sig, s"simhash mismatch on doc $id: ${texts(id.toInt)}")
    }
    // null-array semantics: expression → NULL (filtered by callers), and a
    // null *element* weighs −1 on every bit like the declarative weight
    val edge = spark.sql(
      """SELECT CAST(NULL AS ARRAY<STRING>) AS a
        |UNION ALL SELECT array('x', CAST(NULL AS STRING))""".stripMargin)
      .select(simhash16(col("a")).as("s")).collect()
    assert(edge.exists(_.isNullAt(0)))
  }

  test("GramStats expression == distributed explode+groupBy gram counting") {
    import graft.functions.GramStats.gramStats
    import graft.functions.TextFunctions.{shingles, tokens}
    val texts = Seq("a b a b a b", "one", "x", "a a a a a", "p q r s") ++
      (1 to 200).map(_ => (1 to rnd.nextInt(30) + 1)
        .map(_ => "abcde" (rnd.nextInt(5)).toString).mkString(" "))
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val fast = df
      .select(col("doc_id"), gramStats(tokens(col("text")), 2).as("st"))
      .select(col("doc_id"), col("st.n_grams"), col("st.top_c"), col("st.dup_c"))
      .as[(Long, Long, Long, Long)].collect().toMap2
    val spec = df
      .select(col("doc_id"), explode(shingles(tokens(col("text")), 2)).as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n"), max(col("c")).as("t"),
        sum(when(col("c") > 1, col("c")).otherwise(0L)).as("d"))
      .as[(Long, Long, Long, Long)].collect().toMap2
    assert(fast == spec)
    // null ELEMENT parity: gram construction drops nulls like array_join
    val nullCase = spark.sql(
      "SELECT array('a', CAST(NULL AS STRING), 'a') AS t")
      .select(gramStats(col("t"), 2).as("st"))
      .select(col("st.n_grams"), col("st.top_c"), col("st.dup_c"))
      .as[(Long, Long, Long)].collect()(0)
    // grams: join(['a', null]) = "a", join([null, 'a']) = "a" -> "a"×2
    assert(nullCase == ((2L, 2L, 2L)))
  }

  implicit private class Tup4Map(rows: Array[(Long, Long, Long, Long)]) {
    def toMap2: Map[Long, (Long, Long, Long)] =
      rows.map { case (k, a, b, c) => k -> ((a, b, c)) }.toMap
  }

  test("null-input parity: bucketCol and minhashSignature equal their declarative specs") {
    import graft.functions.TextFunctions.{minhashSignature, minhashSignatureSpec}
    import graft.queries.VectorSearchQueries
    // the non-null vector is full-dimension: a SHORT vector is the one
    // place expression and HOF spec differ (min-length fold vs zip_with
    // null-poisoning) and embeddings are fixed-dim by schema
    val df = spark.sql(
      """SELECT CAST(NULL AS ARRAY<DOUBLE>) AS vec, CAST(NULL AS ARRAY<STRING>) AS sh
        |UNION ALL SELECT transform(sequence(1, 64), i -> CAST(i % 7 - 3 AS DOUBLE)),
        |  array('a b', 'b c')
        |UNION ALL SELECT transform(sequence(1, 64),
        |    i -> CASE WHEN i = 7 THEN CAST(NULL AS DOUBLE) ELSE CAST(i AS DOUBLE) END),
        |  array('a b')
        |UNION ALL SELECT array(), array()""".stripMargin)
    val got = df.select(
      VectorSearchQueries.bucketCol(col("vec")).as("b"),
      VectorSearchQueries.bucketColSpec(col("vec")).as("bs"),
      minhashSignature(col("sh"), 4).as("m"),
      minhashSignatureSpec(col("sh"), 4).as("ms")).collect()
    got.foreach { r =>
      assert(r.getAs[String]("b") == r.getAs[String]("bs"))
      assert(r.getAs[scala.collection.Seq[String]]("m") ==
        r.getAs[scala.collection.Seq[String]]("ms"))
    }
  }

  test("stemLite Column == stemLiteScala mirror on random-ish tokens") {
    val toks = Seq("running", "dogs", "chased", "ladies", "classes", "bus",
      "is", "was", "glass", "cats", "quickly", "ed", "ing", "s") ++
      (1 to 100).map(_ => randString(12).toLowerCase.replaceAll("[^a-z]", "x"))
    val fromCol = toks.toDF("t").select(stemLite(col("t"))).as[String].collect()
    val fromScala = toks.map(stemLiteScala)
    assert(fromCol.toSeq == fromScala)
  }
}
