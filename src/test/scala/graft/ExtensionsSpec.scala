package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ml.knn.Knn
import graft.sources.Tables

/** The native codegen'd distance Expression: registration through
  * SparkSessionExtensions, bit-equality with the UDF kernel (which is
  * also the fallback implementation), and use by KNN when present. Uses
  * the shared session, which is built withExtensions like every real
  * engine session (getOrCreate would silently reuse-and-drop extensions
  * on a second builder). */
class ExtensionsSpec extends AnyFunSuite {

  private lazy val extended: SparkSession = TestSpark.spark

  test("graft_euclid registers and computes known distances") {
    assert(extended.catalog.functionExists("graft_euclid"))
    import extended.implicits._
    val df = Seq((Array(1.0f, 2.0f), Array(4.0f, 6.0f))).toDF("a", "b")
    val d = df.select(expr("graft_euclid(a, b)")).head().getDouble(0)
    assert(d == 5.0)
    // null propagation
    val withNull = df.select(expr("graft_euclid(a, CAST(NULL AS ARRAY<FLOAT>))"))
    assert(withNull.head().isNullAt(0))
  }

  test("expression result is bit-identical to the UDF on real embeddings") {
    import extended.implicits._
    val e = Tables(extended, TestSpark.sf0001, "embeddings").limit(50)
    val pairs = e.select($"vec_id".as("i"), $"embedding".as("a"))
      .crossJoin(e.select($"vec_id".as("j"), $"embedding".as("b")))
      .filter($"i" < $"j").limit(500)
    val udfDist = udf((a: Seq[Float], b: Seq[Float]) => {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i).toDouble - b(i).toDouble; s += d * d; i += 1 }
      math.sqrt(s)
    })
    val diff = pairs
      .select(expr("graft_euclid(a, b)").as("x"), udfDist($"a", $"b").as("y"))
      .filter($"x" =!= $"y").count()
    assert(diff == 0)
  }

  test("graft_dot registers and is bit-identical to the HOF formulation") {
    assert(extended.catalog.functionExists("graft_dot"))
    import extended.implicits._
    val df = Seq((Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f)))
      .toDF("a", "b")
    assert(df.select(expr("graft_dot(a, b)")).head().getDouble(0) == 32.0)
    val e = Tables(extended, TestSpark.sf0001, "embeddings").limit(50)
    val pairs = e.select($"vec_id".as("i"), $"embedding".as("a"))
      .crossJoin(e.select($"vec_id".as("j"), $"embedding".as("b")))
      .filter($"i" < $"j").limit(500)
    val diff = pairs
      .select(expr("graft_dot(a, b)").as("x"),
        graft.llm.Similarity.dot($"a", $"b").as("y"))
      .filter($"x" =!= $"y").count()
    assert(diff == 0)
  }

  test("optimizer rule rewrites the HOF dot pattern to the native kernel " +
      "on float arrays only, bit-identically") {
    import extended.implicits._
    val e = Tables(extended, TestSpark.sf0001, "embeddings").limit(50)
    val pairs = e.select($"vec_id".as("i"), $"embedding".as("a"))
      .crossJoin(e.select($"vec_id".as("j"), $"embedding".as("b")))
      .filter($"i" < $"j").limit(500)
    // the portable HOF form now optimizes into graft_dot…
    val rewritten = pairs.select(
      graft.llm.Similarity.dot($"a", $"b").as("x"))
    assert(rewritten.queryExecution.optimizedPlan.toString
      .contains("graft_dot"),
      rewritten.queryExecution.optimizedPlan.toString.take(2000))
    // …and equals the interpreted chain bit for bit. Ground truth uses a
    // swapped-operand merge ((acc, v) -> v + acc): IEEE addition is
    // commutative, so the value is identical, but the shape defeats the
    // matcher and stays interpreted.
    val interpreted = pairs.select(aggregate(
      zip_with($"a", $"b", (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => v + acc).as("x"))
    assert(!interpreted.queryExecution.optimizedPlan.toString
      .contains("graft_dot"))
    val diff = rewritten.collect().map(_.getDouble(0))
      .zip(interpreted.collect().map(_.getDouble(0)))
      .count { case (x, y) => x != y }
    assert(diff == 0)
    // double arrays keep the portable form — the kernel is float-only
    val dbl = pairs.select(graft.llm.Similarity.dot(
      $"a".cast("array<double>"), $"b".cast("array<double>")).as("x"))
    assert(!dbl.queryExecution.optimizedPlan.toString.contains("graft_dot"))
    // length mismatch: zip_with null-pads, so the HOF yields null — the
    // rewrite's size guard must preserve that, not a truncated dot.
    // localCheckpoint blocks constant folding so the rule actually fires
    // (a literal LocalRelation would be evaluated away before it).
    val ragged = Seq((Array(1.0f, 2.0f), Array(3.0f)))
      .toDF("a", "b").localCheckpoint()
      .select(graft.llm.Similarity.dot($"a", $"b").as("x"))
    assert(ragged.queryExecution.optimizedPlan.toString.contains("graft_dot"),
      ragged.queryExecution.optimizedPlan.toString.take(1000))
    assert(ragged.head().isNullAt(0))
  }

  test("optimizer rule rewrites the HOF euclid pattern to the native " +
      "kernel on float arrays only, bit-identically") {
    import extended.implicits._
    def hofEuclid(a: org.apache.spark.sql.Column,
        b: org.apache.spark.sql.Column) =
      sqrt(aggregate(
        zip_with(a, b, (x, y) => (x.cast("double") - y.cast("double")) *
          (x.cast("double") - y.cast("double"))),
        lit(0.0), (acc, v) => acc + v))
    val e = Tables(extended, TestSpark.sf0001, "embeddings").limit(50)
    val pairs = e.select($"vec_id".as("i"), $"embedding".as("a"))
      .crossJoin(e.select($"vec_id".as("j"), $"embedding".as("b")))
      .filter($"i" < $"j").limit(500)
    val rewritten = pairs.select(hofEuclid($"a", $"b").as("x"))
    assert(rewritten.queryExecution.optimizedPlan.toString
      .contains("graft_euclid"),
      rewritten.queryExecution.optimizedPlan.toString.take(2000))
    // ground truth stays interpreted: the swapped-operand merge defeats
    // the matcher, and IEEE addition commutes so the value is identical
    val interpreted = pairs.select(sqrt(aggregate(
      zip_with($"a", $"b", (x, y) => (x.cast("double") - y.cast("double")) *
        (x.cast("double") - y.cast("double"))),
      lit(0.0), (acc, v) => v + acc)).as("x"))
    assert(!interpreted.queryExecution.optimizedPlan.toString
      .contains("graft_euclid"))
    val diff = rewritten.collect().map(_.getDouble(0))
      .zip(interpreted.collect().map(_.getDouble(0)))
      .count { case (x, y) => x != y }
    assert(diff == 0)
    // double arrays keep the portable form — the kernel is float-only
    val dbl = pairs.select(hofEuclid(
      $"a".cast("array<double>"), $"b".cast("array<double>")).as("x"))
    assert(!dbl.queryExecution.optimizedPlan.toString.contains("graft_euclid"))
    // length mismatch: zip_with null-pads → HOF null; the size guard
    // must preserve that, not a truncated-prefix distance
    val ragged = Seq((Array(1.0f, 2.0f), Array(3.0f)))
      .toDF("a", "b").localCheckpoint()
      .select(hofEuclid($"a", $"b").as("x"))
    assert(ragged.queryExecution.optimizedPlan.toString.contains("graft_euclid"),
      ragged.queryExecution.optimizedPlan.toString.take(1000))
    assert(ragged.head().isNullAt(0))
  }

  test("kernels null-propagate on null ELEMENTS like the HOF chain") {
    // Array-typed literals via SQL so the element type is nullable
    // (Scala Array[Float] encodes containsNull=false and would skip the
    // generated check); localCheckpoint blocks constant folding so the
    // rewrite + codegen path actually runs.
    val df = extended.sql(
      """SELECT array(cast(1.0 as float), cast(null as float)) AS a,
        |       array(cast(2.0 as float), cast(3.0 as float)) AS b,
        |       array(cast(4.0 as float), cast(5.0 as float)) AS c
        |""".stripMargin).localCheckpoint()
    val r = df.selectExpr(
      "graft_dot(a, b) AS dn", "graft_euclid(a, b) AS en",
      "graft_dot(c, b) AS dv", "graft_euclid(c, b) AS ev").head()
    assert(r.isNullAt(0) && r.isNullAt(1),
      "null element must null-propagate through both kernels")
    assert(r.getDouble(2) == 4.0 * 2.0 + 5.0 * 3.0)
    assert(r.getDouble(3) == math.sqrt(2.0 * 2.0 + 2.0 * 2.0))
    // and the rewritten HOF forms agree (null where the HOF is null)
    import org.apache.spark.sql.Column
    def hofDot(a: Column, b: Column) =
      graft.llm.Similarity.dot(a, b)
    val h = df.select(hofDot(col("a"), col("b")).as("x")).head()
    assert(h.isNullAt(0))
  }

  test("graft_simhash_agg matches the 64-column fold bit for bit") {
    assert(extended.catalog.functionExists("graft_simhash_agg"))
    val docs = Tables(extended, TestSpark.sf0001, "documents")
    val native = graft.llm.Dedup.simHash(docs).collect().toSeq
    // force the declarative fold by shadowing the probe with a session
    // clone that lacks the function? simpler: compute the fold inline
    import org.apache.spark.sql.functions._
    val hashes = docs
      .select(col("doc_id"),
        explode(graft.llm.TextOps.tokens(col("text"))).as("t"))
      .select(col("doc_id"), xxhash64(col("t")).as("h"))
    val bitCols = (0 until 64).map(i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(lit(1L)) === 1, 1)
        .otherwise(-1)).as(s"b$i"))
    val fold = hashes.groupBy("doc_id")
      .agg(bitCols.head, bitCols.tail: _*)
      .select(col("doc_id"),
        (0 until 64).map(i =>
          when(col(s"b$i") > 0, shiftleft(lit(1L), i)).otherwise(lit(0L)))
          .reduce(_ bitwiseOR _).as("simhash"))
      .orderBy("doc_id").collect().toSeq
    assert(native == fold)
  }

  test("simhash aggregate over zero rows packs the all-tied zero sketch") {
    import extended.implicits._
    val empty = Seq.empty[Long].toDF("h")
    // global aggregate over an empty input: every bit counter is 0,
    // no counter is strictly positive, so the packed sketch is 0
    val v = empty.agg(expr("graft_simhash_agg(h)")).head().getLong(0)
    assert(v == 0L)
  }

  test("simhash aggregate plans with map-side partial object aggregation") {
    val docs = Tables(extended, TestSpark.sf0001, "documents")
    val df = graft.llm.Dedup.simHash(docs)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(p.contains("ObjectHashAggregate"), p.take(3000))
    assert(p.contains("partial_graft_simhash_agg"), p.take(3000))
  }

  test("knn uses the native function in an extended session, same results") {
    import extended.implicits._
    val e = Tables(extended, TestSpark.sf0001, "embeddings")
    val out = Knn.fit(extended, e)
      .search(e.filter($"vec_id" < 3), k = 3, tau = 1e9)
    // plan must contain the native expression, not a ScalaUDF
    val plan = out.queryExecution.optimizedPlan.toString
    assert(plan.contains("graft_euclid") || !plan.contains("UDF"),
      "native function not used in extended session")
    assert(out.count() == 9)
  }

  test("graft_shingles is bit-identical to the declarative HOF chain") {
    import extended.implicits._
    import graft.llm.{Dedup, TextOps}
    // edge shapes the kernel must agree on: empty text (one empty token),
    // single token, runs of spaces (empty tokens preserved), duplicate
    // shingles (first-occurrence order), shorter-than-n fallback
    val fixtures = Seq(
      (1L, "the cat sat on the mat"),
      (2L, ""), (3L, "one"), (4L, "a  b   c"),
      (5L, "x y z x y z x y z"),
      (6L, "two words")).toDF("doc_id", "text")
    val corpus = Tables(extended, TestSpark.sf0001, "documents")
    for (df <- Seq(fixtures, corpus); n <- Seq(1, 3)) {
      val native = df.select($"doc_id",
        expr(s"graft_shingles(text, $n)").as("s")).collect()
        .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      val decl = df.select($"doc_id",
        Dedup.shingles(TextOps.tokens($"text"), n).as("s")).collect()
        .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      assert(native == decl, s"shingles diverge at n=$n")
    }
  }

  test("graft_curate_gate is bit-identical to the declarative gates") {
    import extended.implicits._
    import graft.llm.TextOps
    // null, empty (one empty token), runs of spaces (empty tokens kept),
    // under-3-token (no 3-grams), CJK share, mixed-case stopwords (the
    // quality list is case-sensitive, the language list lowered), and
    // non-ASCII capitals whose case mapping is not ASCII's: dotted
    // capital I lowers to i + U+0307, the Kelvin sign to k, Greek
    // capitals to their lower forms
    val fixtures = Seq[(Long, String)](
      (1L, null), (2L, ""), (3L, "the  cat   sat"), (4L, "two words"),
      (5L, "这是 一个 中文 文本 的 测试 the"), (6L, "The AND Of the and of"),
      (7L, "İs the İt is"), (8L, "\u212Aein der die und das"),
      (9L, "ΣΤΟ the of ΣΤΟ"), (10L, "Die Katze IST nicht da"),
      (11L, "x y z x y z x y z")).toDF("doc_id", "text")
    val corpus = Tables(extended, TestSpark.sf0001, "documents")
    for (df <- Seq(fixtures, corpus)) {
      def rows(native: Boolean) = TextOps.gatesImpl(df, native).collect()
        .map(r => r.getLong(0) -> r.toSeq.tail).toMap
      val native = rows(native = true)
      assert(native == rows(native = false))
      assert(native.size == df.count())
    }
    val lang = TextOps.gatesImpl(fixtures, native = true)
      .select("doc_id", "pred_lang").as[(Long, String)].collect().toMap
    assert(lang(5L) == "zh" && lang(10L) == "de" && lang(6L) == "en")
  }

  test("minHashOfSets kernel path matches the aggregate for both hash " +
      "families") {
    import extended.implicits._
    import graft.llm.Dedup
    // null text (null set), empty text (the one-empty-token set), one
    // token (the shorter-than-n fallback), plus the real corpus
    val fixtures = Seq[(Long, String)]((1L, null), (2L, ""), (3L, "one"),
      (4L, "the cat sat on the mat")).toDF("doc_id", "text")
    val corpus = Tables(extended, TestSpark.sf0001, "documents")
    for (df <- Seq(fixtures, corpus); rep <- Seq(false, true)) {
      val sets = Dedup.withShingleSets(df, 3)
      def sigs(native: Boolean) =
        Dedup.minHashOfSetsImpl(sets, 32, 4, rep, native).collect()
          .map(r => r.getLong(0) -> (r.getSeq[Long](1), r.getSeq[Long](2)))
          .toMap
      val native = sigs(native = true)
      assert(native == sigs(native = false), s"replicable=$rep")
      assert(native.size == df.filter($"text".isNotNull).count())
    }
  }
}
