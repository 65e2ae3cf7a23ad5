package graft

import graft.functions.{MinHashSignature, NativeFunctions}
import graft.text.MinHashLSH
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class NativeFunctionsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("register adds only missing functions; a second call replaces nothing") {
    val s = spark.newSession()
    val fr = s.sessionState.functionRegistry
    val ids = NativeFunctions.registry.map(f =>
      org.apache.spark.sql.catalyst.FunctionIdentifier(f._1))
    // the extension already resolves every name: drop a few so the
    // first call has work to do
    ids.take(3).foreach(fr.dropFunction)
    NativeFunctions.register(s)
    val infos = ids.map(id => fr.lookupFunction(id).getOrElse(fail(s"$id missing")))
    NativeFunctions.register(s)
    ids.zip(infos).foreach { case (id, info) =>
      assert(fr.lookupFunction(id).exists(_ eq info), s"$id was re-registered")
    }
  }

  test("graft_dot equals the zip_with+aggregate formulation bit-for-bit") {
    NativeFunctions.register(spark)
    val df = Ctx(spark, "/root/testdata/sf0.001").embeddings
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
    val both = df.select(
      NativeFunctions.dot(col("v"), col("v")).as("native"),
      aggregate(zip_with(col("v"), col("v"), (x, y) => x * y),
        lit(0.0), (acc, x) => acc + x).as("hof"))
    assert(both.filter(col("native") =!= col("hof")).count() == 0)
  }

  test("graft_dot works from SQL and participates in codegen") {
    NativeFunctions.register(spark)
    val r = spark.sql(
      "SELECT graft_dot(array(1.0d, 2.0d, 3.0d), array(4.0d, 5.0d, 6.0d)) v")
    // constant inputs fold at optimization time - itself proof the
    // expression behaves (eval path); codegen is asserted on real data
    assert(r.collect().head.getDouble(0) == 32.0)
    Ctx(spark, "/root/testdata/sf0.001").embeddings.limit(5)
      .createOrReplaceTempView("nf_emb")
    val d = spark.sql(
      """SELECT graft_dot(CAST(embedding AS ARRAY<DOUBLE>),
        |                 CAST(embedding AS ARRAY<DOUBLE>)) v FROM nf_emb""".stripMargin)
    assert(d.collect().forall(_.getDouble(0) > 0))
    // the project containing graft_dot sits inside a codegen stage
    // ("*(n)" prefix) rather than falling back to interpreted eval
    val plan = d.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l => l.contains("*(") && l.contains("graft_dot")), plan)
  }

  test("single-pass minhash aggregate equals k separate min() aggregates") {
    MinHashSignature.register(spark)
    val docs = Seq(
      (1L, Seq("alpha", "beta", "gamma", "delta")),
      (2L, Seq("beta", "epsilon")),
      (3L, Seq("zeta"))).toDF("doc_id", "ws")
    val fast = MinHashLSH.signatures(docs, "doc_id", "ws", 16)
      .as[(Long, Seq[Long])].collect().toMap
    val ref = MinHashLSH.signaturesViaMinAggs(docs, "doc_id", "ws", 16)
      .as[(Long, Seq[Long])].collect().toMap
    assert(fast == ref)
  }

  test("pq_argmin picks the true L2-nearest codeword, ties to the lowest index") {
    NativeFunctions.register(spark)
    // flat codebook of three 2-dim codewords: (0,0), (1,0), (1,0) dup
    val cb = Array(0.0, 0.0, 1.0, 0.0, 1.0, 0.0)
    val df = Seq(
      (Seq(0.1, 0.0), 0),  // nearest (0,0)
      (Seq(0.9, 0.1), 1),  // nearest (1,0); the index-2 duplicate ties -> 1
      (Seq(0.5, 0.0), 0)   // equidistant between cw0 and cw1 -> lowest index
    ).toDF("sv", "expect")
    val got = df.select(
      NativeFunctions.pqArgmin(col("sv"), lit(cb)).as("got"), col("expect"))
      .as[(Int, Int)].collect()
    got.foreach { case (g, e) => assert(g == e, s"got $g expected $e") }
  }

  test("adc_scores equals per-query manual lookup sums") {
    NativeFunctions.register(spark)
    // m=2 subspaces with 2 and 3 codewords: offsets [0,2,5], stride 5
    val offsets = Array(0, 2, 5)
    // two queries' tables, query-major
    val tables = Array(
      1.0, 2.0, /* q0 sj0 */ 10.0, 20.0, 30.0, /* q0 sj1 */
      -1.0, -2.0, /* q1 sj0 */ 0.5, 0.25, 0.125 /* q1 sj1 */)
    val df = Seq((Seq(1, 2), Seq(2.0 + 30.0, -2.0 + 0.125)),
                 (Seq(0, 0), Seq(1.0 + 10.0, -1.0 + 0.5)))
      .toDF("codes", "expect")
    val got = df.select(NativeFunctions.adcScores(
        col("codes"), lit(tables), lit(offsets)).as("got"), col("expect"))
      .as[(Seq[Double], Seq[Double])].collect()
    got.foreach { case (g, e) => assert(g == e, s"got $g expected $e") }
  }

  test("adc_scores: all-sentinel codes yield an EMPTY array (posexplode drops the row)") {
    NativeFunctions.register(spark)
    val offsets = Array(0, 2, 5)
    val tables = Array(1.0, 2.0, 10.0, 20.0, 30.0,
                       -1.0, -2.0, 0.5, 0.25, 0.125)
    // all -1 -> empty (the in-expression guard that replaced the
    // projection-collapsed filter); one valid code -> full nq array
    // with the sentinel subspace contributing 0
    val df = Seq((Seq(-1, -1), Seq.empty[Double]),
                 (Seq(-1, 1), Seq(20.0, 0.25)))
      .toDF("codes", "expect")
    val got = df.select(NativeFunctions.adcScores(
        col("codes"), lit(tables), lit(offsets)).as("got"), col("expect"))
      .as[(Seq[Double], Seq[Double])].collect()
    got.foreach { case (g, e) => assert(g == e, s"got $g expected $e") }
  }

  test("misra-gries: superset + bounded-undercount guarantee on adversarial streams") {
    NativeFunctions.register(spark)
    val k = 9
    // one hot item (40%) drowned in a long tail of singletons — the
    // shape that evicts counters hardest; interleave so decrements
    // happen throughout, and repartition so the merge path (subtract
    // (k+1)-th largest) runs across partial buffers
    val hot = Seq.fill(400)("HOT")
    val tail = (1 to 600).map(i => s"t$i")
    val interleaved = hot.zipWithIndex.map { case (w, i) => (i * 3, w) } ++
      tail.zipWithIndex.map { case (w, i) => (i * 2 + 1, w) }
    val df = interleaved.sortBy(_._1).map(_._2).toDF("w").repartition(7)
    val n = 1000
    val bound = n / (k + 1) // = 100
    val sketch = df
      .agg(NativeFunctions.heavyHitters(col("w"), k).as("s"))
      .head().getAs[Map[String, Long]]("s")
    assert(sketch.size <= k)
    // every item with true freq > n/(k+1) MUST be present
    assert(sketch.contains("HOT"), sketch)
    // every estimate undercounts its true frequency by at most bound
    sketch.foreach { case (item, est) =>
      val exact = if (item == "HOT") 400L else 1L
      assert(est <= exact && exact - est <= bound, s"$item est=$est")
    }

    // several concurrent heavy hitters survive together
    val multi = (Seq.fill(200)("A") ++ Seq.fill(200)("B") ++
      Seq.fill(200)("C") ++ (1 to 400).map(i => s"z$i"))
    val ms = multi.zipWithIndex.sortBy { case (_, i) => i % 97 }.map(_._1)
      .toDF("w").repartition(5)
      .agg(NativeFunctions.heavyHitters(col("w"), k).as("s"))
      .head().getAs[Map[String, Long]]("s")
    for (h <- Seq("A", "B", "C")) assert(ms.contains(h), ms)
  }

  test("topk aggregate: exact top-k with id tie-break across partitions and groups") {
    NativeFunctions.register(spark)
    val k = 5
    // seeded random values with deliberate ties (values mod 17) so the
    // id tie-break decides order; 3 groups of very different sizes, and
    // 11 partitions so merge runs across many capped partial buffers
    val rnd = new scala.util.Random(42)
    val rows = (1 to 3000).map { i =>
      val g = if (i % 7 == 0) "big" else if (i % 3 == 0) "mid" else "big"
      (g, rnd.nextInt(17).toLong, i.toLong)
    } ++ Seq(("tiny", 3L, 1L), ("tiny", 3L, 2L)) // group smaller than k
    val df = rows.toDF("g", "v", "id").repartition(11)
    val got = df.groupBy("g")
      .agg(NativeFunctions.topK(col("v"), col("id"), k).as("tk"))
      .collect().map(r => r.getString(0) ->
        r.getSeq[org.apache.spark.sql.Row](1).map(e =>
          (e.getLong(0), e.getLong(1)))).toMap
    // brute-force reference: full sort by (value desc, id asc), take k
    val exp = rows.groupBy(_._1).map { case (g, rs) =>
      g -> rs.map(r => (r._2, r._3)).sortBy { case (v, id) => (-v, id) }.take(k)
    }
    assert(got.keySet == exp.keySet)
    got.foreach { case (g, tk) =>
      assert(tk == exp(g), s"group $g: $tk != ${exp(g)}")
    }
    // groups smaller than k return all their rows, still ordered
    assert(got("tiny") == Seq((3L, 1L), (3L, 2L)))
  }

  test("adc_scores rejects an offsets array without the m+1 stride entry") {
    NativeFunctions.register(spark)
    // m=2 codes but only 2 offsets (missing total-stride entry): must
    // fail with the function name, not an opaque index error
    val df = Seq(Tuple1(Seq(0, 1))).toDF("codes")
    val ex = intercept[Exception] {
      df.select(NativeFunctions.adcScores(
        col("codes"), lit(Array(1.0, 2.0, 3.0, 4.0)), lit(Array(0, 2))))
        .collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => e.getMessage +: msgs(e.getCause))
    assert(msgs(ex).exists(m => m != null && m.contains("graft_adc_scores")),
      s"expected graft_adc_scores in error chain, got: ${msgs(ex)}")
  }

  test("md5_bits equals conv(substring(md5)) at 15 and 12 hex chars, " +
       "incl. unicode/empty, and participates in codegen") {
    NativeFunctions.register(spark)
    val toks = Seq("alpha", "beta", "", "naïve", "日本語", "x" * 500,
        "mh-a:0", "7:12345:678") ++ (0 until 2000).map(i => s"tok$i")
    val df = toks.toDF("t")
    for (n <- Seq(15, 12, 1, 8)) {
      val bad = df.select(
          NativeFunctions.md5Bits(col("t"), n).as("native"),
          conv(substring(md5(col("t").cast("binary")), 1, n), 16, 10)
            .cast("long").as("legacy"))
        .filter(col("native") =!= col("legacy"))
      assert(bad.count() == 0, s"nHex=$n")
    }
    // null in → null out, same as the functions._ chain
    val nr = Seq[Option[String]](None).toDF("t")
      .select(NativeFunctions.md5Bits(col("t"), 15).as("v")).collect()
    assert(nr.head.isNullAt(0))
    // inside a codegen stage, not interpreted fallback — build from
    // spark.range so ConvertToLocalRelation can't fold the projection
    // into a LocalTableScan before it ever reaches codegen
    val plan = spark.range(100)
      .select(NativeFunctions.md5Bits(
        concat(lit("tok"), col("id").cast("string")), 15).as("v"))
      .queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l => l.contains("*(") && l.contains("graft_md5_bits")), plan)
  }
}
