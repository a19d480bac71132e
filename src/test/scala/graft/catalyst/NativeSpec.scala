package graft.catalyst

import graft.SparkSpec
import graft.text.{NearDup, TextOps}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.NativeColumns

class NativeSpec extends SparkSpec {

  // adversarial token shapes: multi-space, leading/trailing, empty,
  // unicode (multi-byte UTF-8 around the 0x20 split), single token
  private val texts = Seq(
    "the cat sat on the mat",
    "a  double  space",
    " leading",
    "trailing ",
    "",
    " ",
    "solo",
    "naïve café 统一 码 标准",
    "a b c d e f g h i j k l m n o p")

  private def df = {
    val spark2 = spark
    import spark2.implicits._
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
  }

  test("native simhash64 equals the Column HOF formulation bit-for-bit") {
    val rows = df.select(col("id"),
      NearDup.simHashReference(col("text")).as("hof"),
      NativeColumns.simhash64(col("text")).as("native")).collect()
    rows.foreach(r => assert(r.getLong(1) === r.getLong(2), s"text=${texts(r.getLong(0).toInt)}"))
  }

  test("native shingles equals the Column HOF formulation bit-for-bit (k=1,2,3; null text)") {
    for (k <- 1 to 3) {
      val rows = df.select(col("id"),
        TextOps.shinglesReference(col("text"), k).as("hof"),
        TextOps.shingles(col("text"), k).as("native")).collect()
      rows.foreach { r =>
        assert(r.getSeq[String](1) === r.getSeq[String](2),
          s"k=$k text='${texts(r.getLong(0).toInt)}'")
      }
    }
    // null text: the reference `when` yields the empty array; the native
    // wrapper's coalesce must match
    val nullDf = df.select(col("id"),
      when(col("id") < 0, col("text")).as("text")) // all-null text column
    val nr = nullDf.select(TextOps.shinglesReference(col("text"), 3).as("hof"),
      TextOps.shingles(col("text"), 3).as("native")).collect()
    nr.foreach(r => assert(r.getSeq[String](0) === r.getSeq[String](1)))
  }

  test("property: native shingles equals HOF on 200 seeded random texts") {
    val rnd = new scala.util.Random(31)
    val words = Seq("aa", "bb", "cc", "dd", "ee", "统一", "x", "")
    val docs = (0 until 200).map { i =>
      (i.toLong, (0 until rnd.nextInt(12)).map(_ => words(rnd.nextInt(words.size))).mkString(" "))
    }
    val spark2 = spark
    import spark2.implicits._
    val d = docs.toDF("id", "text")
    for (k <- Seq(2, 3)) {
      d.select(col("id"), TextOps.shinglesReference(col("text"), k).as("hof"),
          TextOps.shingles(col("text"), k).as("native")).collect()
        .foreach(r => assert(r.getSeq[String](1) === r.getSeq[String](2),
          s"k=$k id=${r.getLong(0)}"))
    }
  }

  test("native minhash signature equals the Column HOF formulation bit-for-bit") {
    val sh = TextOps.shingles(col("text"), 2)
    val rows = df.select(col("id"),
      NearDup.minHashReference(sh, 16).as("hof"),
      NativeColumns.minhashSig(sh, 16).as("native")).collect()
    rows.foreach { r =>
      assert(r.getSeq[Long](1) === r.getSeq[Long](2), s"text=${texts(r.getLong(0).toInt)}")
    }
  }

  test("native cosine equals the zip_with/aggregate formulation bit-for-bit (float arrays)") {
    val spark2 = spark
    import spark2.implicits._
    val rnd = new scala.util.Random(3)
    val vecs = (0 until 50).map(i =>
      (i.toLong, Array.fill(24)(rnd.nextFloat() * 2 - 1), Array.fill(24)(rnd.nextFloat() * 2 - 1)))
      .toDF("id", "a", "b")
    val rows = vecs.select(
      graft.ann.Ann.cosineReference(col("a"), col("b")).as("hof"),
      NativeColumns.cosineSim(col("a"), col("b")).as("native")).collect()
    rows.foreach(r => assert(r.getDouble(0) === r.getDouble(1)))
  }

  test("native hash chain equals iterated xxhash64 Columns bit-for-bit") {
    // xxhash64(long) = XXH64.hashLong(v, seed 42); the chain is k nested
    // xxhash64 calls — the scaling witness must measure EXACTLY this work
    val in = df.select(col("id"))
    val k = 7
    val chained = (1 to k).foldLeft(col("id"))((c, _) => xxhash64(c))
    val want = in.select(chained.as("h")).collect().map(_.getLong(0)).toSeq
    val got = in.select(NativeColumns.hashChain(col("id"), k).as("h"))
      .collect().map(_.getLong(0)).toSeq
    assert(got === want)
  }

  test("native ordered pairs equals the Column HOF formulation bit-for-bit") {
    val spark2 = spark
    import spark2.implicits._
    val rnd = new scala.util.Random(47)
    // adversarial sizes: empty, singleton, pairs, long sets; sorted distinct
    // longs exactly as sort_array(collect_set) produces them
    val sets: Seq[Seq[Long]] = Seq(Seq.empty[Long], Seq(7L), Seq(1L, 2L)) ++
      (0 until 50).map { _ =>
        val n = rnd.nextInt(9)
        Seq.fill(n + 2)(rnd.nextLong().abs % 1000).distinct.sorted.map(identity[Long])
      }
    val sdf = sets.zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("id", "ps")
    for (sym <- Seq(false, true)) {
      val rows = sdf.select(col("id"),
        graft.SparkEntry.orderedPairsReference(col("ps"), sym).as("hof"),
        NativeColumns.orderedPairs(col("ps"), sym).as("native")).collect()
      rows.foreach { r =>
        val hof = r.getSeq[org.apache.spark.sql.Row](1)
        val nat = r.getSeq[org.apache.spark.sql.Row](2)
        assert(hof === nat, s"sym=$sym id=${r.getLong(0)}")
      }
    }
  }

  test("native ordered pairs: an input whose pair count passes one array fails, not wraps") {
    // 46,342 elements: n*(n-1) passes Int.MaxValue, so an Int count went
    // negative; symmetric emission doubles the 1.07e9 pairs past any array
    val big = new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Array.tabulate[Any](46342)(_.toLong))
    val e = intercept[IllegalArgumentException](Kernels.orderedPairs(big, sym = true))
    assert(e.getMessage.contains(
      "graft_ordered_pairs: 46342 elements give 2147534622 pairs, more than one array holds"),
      e.getMessage)
    // small inputs are unchanged: 4 elements, 6 pairs, 12 rows symmetric
    val small = new org.apache.spark.sql.catalyst.util.GenericArrayData(Array[Any](1L, 2L, 3L, 4L))
    assert(Kernels.orderedPairs(small, sym = true).numElements() === 12)
  }

  test("property: native kernels equal HOF forms on 200 seeded random texts") {
    val spark2 = spark
    import spark2.implicits._
    val rnd = new scala.util.Random(99)
    val alphabet = "ab c  déf_統1!\t" // spaces, double spaces, multi-byte, punctuation
    val randomTexts = (0 until 200).map { i =>
      (i.toLong, (0 until rnd.nextInt(40)).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
    }
    val rdf = randomTexts.toDF("id", "text")
    val sh = TextOps.shingles(col("text"), 2)
    val rows = rdf.select(col("id"),
      NearDup.simHashReference(col("text")).as("s1"),
      NativeColumns.simhash64(col("text")).as("s2"),
      NearDup.minHashReference(sh, 8).as("m1"),
      NativeColumns.minhashSig(sh, 8).as("m2")).collect()
    rows.foreach { r =>
      assert(r.getLong(1) === r.getLong(2), s"simhash id=${r.getLong(0)}")
      assert(r.getSeq[Long](3) === r.getSeq[Long](4), s"minhash id=${r.getLong(0)}")
    }
  }

  test("null array elements: native minhash matches the HOF's skip-null xxhash64 semantics") {
    val arr = array(lit("x"), lit(null).cast("string"), lit("y"))
    val allNull = array(lit(null).cast("string"), lit(null).cast("string"))
    val probe = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(1)
    val r = probe.select(
      NearDup.minHashReference(arr, 8).as("h1"), NativeColumns.minhashSig(arr, 8).as("n1"),
      NearDup.minHashReference(allNull, 8).as("h2"), NativeColumns.minhashSig(allNull, 8).as("n2"))
      .head
    assert(r.getSeq[Long](0) === r.getSeq[Long](1))
    assert(r.getSeq[Long](2) === r.getSeq[Long](3))
  }

  test("null array elements / length mismatch: native cosine propagates null like the HOF") {
    val a = expr("array(CAST(1.5 AS FLOAT), CAST(NULL AS FLOAT), CAST(2.0 AS FLOAT))")
    val b = expr("array(CAST(0.5 AS FLOAT), CAST(1.0 AS FLOAT), CAST(3.0 AS FLOAT))")
    val short = expr("array(CAST(0.5 AS FLOAT))")
    val probe = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(1)
    val r = probe.select(
      graft.ann.Ann.cosineReference(a, b).as("h1"), NativeColumns.cosineSim(a, b).as("n1"),
      graft.ann.Ann.cosineReference(b, short).as("h2"), NativeColumns.cosineSim(b, short).as("n2"))
      .head
    assert(r.isNullAt(0) && r.isNullAt(1), r.toString)
    assert(r.isNullAt(2) && r.isNullAt(3), r.toString)
  }

  test("SQL surface: graft_* functions registered via the extensions hook") {
    org.apache.spark.sql.graft.NativeColumns.register(spark)
    df.createOrReplaceTempView("native_probe")
    val rows = spark.sql(
      """SELECT id, graft_simhash64(text) AS s,
        |       graft_minhash_sig(split(text, ' '), 4) AS m
        |FROM native_probe""".stripMargin).collect()
    val direct = df.select(col("id"), NativeColumns.simhash64(col("text")).as("s"),
      NativeColumns.minhashSig(split(col("text"), " "), 4).as("m")).collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSet ===
      direct.map(r => (r.getLong(0), r.getLong(1))).toSet)
    assert(rows.map(r => (r.getLong(0), r.getSeq[Long](2))).toSet ===
      direct.map(r => (r.getLong(0), r.getSeq[Long](2))).toSet)
  }

  test("native expressions stay inside whole-stage codegen") {
    // parquet-backed input: a local Seq would be constant-folded by
    // ConvertToLocalRelation before any physical plan exists
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val q = docs.select(NativeColumns.simhash64(col("text")).as("s"),
      NativeColumns.minhashSig(TextOps.shingles(col("text"), 2), 8).as("m"))
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("*("), plan) // codegen span marker
  }
}
