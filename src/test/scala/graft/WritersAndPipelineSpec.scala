package graft

import java.nio.file.Files

import org.apache.spark.ml.Pipeline
import org.apache.spark.ml.classification.DecisionTreeClassifier
import org.apache.spark.ml.feature.{IndexToString, StringIndexer, VectorIndexer}
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{Tables, Writers}

/** Output-path round trips (SURVEY §1.4 outputs, A32 DDL+insert) and the
  * reference's feature-transformer pipeline shape (B23:
  * StringIndexer → VectorIndexer → model → IndexToString,
  * `GBDTRunner.scala:150-165`, `DTRunner.scala:266-276`). */
class WritersAndPipelineSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def tmp(prefix: String) =
    Files.createTempDirectory(prefix).resolve("out").toString

  test("parquet round trip with partitioning prunes to one partition dir") {
    val df = Tables(spark, sf0001, "nation")
    val path = tmp("pq")
    Writers.parquet(df, path, partitionBy = Seq("n_regionkey"))
    val back = spark.read.parquet(path)
    assert(back.count() == df.count())
    val one = spark.read.parquet(path).filter($"n_regionkey" === 1)
    // partition pruning: the filtered scan must read only matching rows
    assert(one.count() == df.filter($"n_regionkey" === 1).count())
    assert(Files.list(java.nio.file.Paths.get(path)).toArray
      .map(_.toString).count(_.contains("n_regionkey=")) >= 2)
  }

  test("sharded export writes one directory per shard, one file per task") {
    val docs = Tables(spark, sf0001, "documents")
    val withShard = docs.join(
      graft.llm.CorpusOps.shard(docs, nShards = 4), Seq("doc_id"))
    val path = tmp("shards")
    Writers.sharded(withShard, path)
    val back = spark.read.parquet(path)
    assert(back.count() == docs.count())
    val dirs = Files.list(java.nio.file.Paths.get(path)).toArray
      .map(_.toString).filter(_.contains("shard="))
    assert(dirs.length == 4, dirs.toSeq)
    // the repartition on shard keeps each shard directory to the files
    // of its own tasks — not one file per (input task x shard)
    dirs.foreach { d =>
      val files = Files.list(java.nio.file.Paths.get(d)).toArray
        .map(_.toString).filter(_.endsWith(".parquet"))
      assert(files.length == 1, s"$d has ${files.length} files")
    }
    // shard column survives the round trip as partition metadata
    assert(back.select("shard").distinct().count() == 4)
  }

  test("jsonl export round trips, gzipped one object per line, " +
      "partitioned by shard") {
    val docs = Tables(spark, sf0001, "documents").select("doc_id", "text")
    val withShard = docs.join(
      graft.llm.CorpusOps.shard(docs, nShards = 2), Seq("doc_id"))
    val path = tmp("jsonl")
    Writers.jsonl(withShard, path, partitionBy = Seq("shard"))
    val back = spark.read.json(path)
    assert(back.count() == docs.count())
    // per-shard layout + gzip per file (readable by any loader tooling)
    val dirs = Files.list(java.nio.file.Paths.get(path)).toArray
      .map(_.toString).filter(_.contains("shard="))
    assert(dirs.length == 2, dirs.toSeq)
    val files = Files.list(java.nio.file.Paths.get(dirs.head)).toArray
      .map(_.toString).filter(_.endsWith(".json.gz"))
    assert(files.nonEmpty, s"no gzipped jsonl in ${dirs.head}")
    // content fidelity, not just counts
    val origIds = docs.collect().map(_.getLong(0)).toSet
    assert(back.select("doc_id").collect().map(_.getLong(0)).toSet == origIds)
  }

  test("csv and text round trips preserve rows") {
    val df = Tables(spark, sf0001, "region")
    val p1 = tmp("csv"); val p2 = tmp("txt")
    Writers.csv(df, p1)
    Writers.text(df, p2, sep = "|")
    assert(spark.read.option("header", "true").csv(p1).count() == df.count())
    val lines = spark.read.text(p2).collect().map(_.getString(0))
    assert(lines.length == df.count() && lines.forall(_.contains("|")))
  }

  test("sequenceFile(+LZ4) round trips through sequenceLines and the " +
      "headers record the codec") {
    // the reference's PrefixSpan persistence shape: RDD[String] as
    // (NullWritable, Text) SequenceFile records, Lz4Codec
    val pats = graft.ml.TextModels.prefixSpan(
      spark, Tables(spark, sf0001, "events"))
    val path = tmp("seq")
    Writers.sequenceFile(pats, path)
    val back = graft.sources.Readers.sequenceLines(spark, path)
    val exp = pats.select(concat_ws(",", pats.columns.map(col): _*))
      .as[String].collect().sorted.toSeq
    assert(back.as[String].collect().sorted.toSeq == exp)
    // codec is recorded in the SequenceFile header, not a file suffix
    val part = Files.list(java.nio.file.Paths.get(path)).toArray
      .map(_.toString).filter(_.contains("part-")).head
    val head = new String(
      Files.readAllBytes(java.nio.file.Paths.get(part)).take(512),
      java.nio.charset.StandardCharsets.ISO_8859_1)
    assert(head.contains("org.apache.hadoop.io.compress.Lz4Codec"), part)
    // uncompressed variant round trips too
    val plain = tmp("seqplain")
    Writers.sequenceFile(pats, plain, codec = None)
    assert(graft.sources.Readers.sequenceLines(spark, plain)
      .as[String].collect().sorted.toSeq == exp)
  }

  test("lz4-compressed parquet reads back identically") {
    val df = Tables(spark, sf0001, "region")
    val p = tmp("lz4")
    Writers.parquet(df, p, compression = "lz4")
    assert(spark.read.parquet(p).collect().toSet == df.collect().toSet)
  }

  test("DDL create + insertInto round trips through the catalog") {
    val df = Tables(spark, sf0001, "region")
    Writers.createAndInsert(spark, df, "region_copy")
    try {
      assert(spark.table("region_copy").count() == df.count())
      // second insert appends (the Hive runners' insert-into semantics)
      df.write.mode("append").insertInto("region_copy")
      assert(spark.table("region_copy").count() == 2 * df.count())
    } finally spark.sql("DROP TABLE IF EXISTS region_copy")
  }

  test("DDL + graph adapter round trip against a Hive (derby) metastore") {
    // the reference's Hive runners target a REAL metastore
    // (`PageRankHiveRunner.scala:34` enableHiveSupport, `:59-67` DDL);
    // the session-catalog test above proves the flow against the
    // in-memory catalog — this proves the same surface against
    // HiveExternalCatalog backed by a local derby metastore
    import org.apache.spark.sql.SparkSession
    val ms = Files.createTempDirectory("graft-hive")
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val hive = SparkSession.builder()
        .enableHiveSupport()
        .config("spark.sql.warehouse.dir", ms.resolve("warehouse").toString)
        .config("javax.jdo.option.ConnectionURL",
          s"jdbc:derby:;databaseName=${ms.resolve("metastore_db")};create=true")
        .getOrCreate()
      assert(hive.sharedState.externalCatalog.unwrapped.getClass.getName
        .contains("HiveExternalCatalog"),
        s"expected a hive-backed catalog, got " +
          hive.sharedState.externalCatalog.unwrapped.getClass.getName)
      try {
        // DDL + insert (A32) lands in the metastore-backed catalog
        val region = Tables(hive, sf0001, "region")
        Writers.createAndInsert(hive, region, "region_hive")
        assert(hive.table("region_hive").count() == region.count())
        // the graph_adapter round trip: encode the string-keyed graph,
        // compute degrees, decode, persist the result as a metastore
        // table and read it back
        val e = Tables(hive, sf0001, "nation")
          .join(Tables(hive, sf0001, "region"),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("n_name").as("src"), col("r_name").as("dst"),
            lit(1.0).as("weight"))
        val (enc, dict) = graft.graph.GraphSource.encodeStringEdges(hive, e)
        val deg = graft.graph.Builtins.degrees(hive,
          graft.graph.GraphSource.toGraph(enc))
        val decoded = graft.graph.GraphSource.decode(deg, dict, "node")
          .select(col("node_name").as("name"), col("degree"))
        Writers.createAndInsert(hive, decoded, "degrees_hive")
        val back = hive.table("degrees_hive")
        assert(back.count() == decoded.count() && back.count() > 0)
        // and the table genuinely lives in the metastore, not the session
        val meta = hive.sessionState.catalog.externalCatalog
          .getTable("default", "degrees_hive")
        assert(meta.provider.isDefined)
      } finally {
        hive.sql("DROP TABLE IF EXISTS region_hive")
        hive.sql("DROP TABLE IF EXISTS degrees_hive")
      }
    } finally {
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }

  test("StringIndexer/VectorIndexer/IndexToString pipeline round trips labels") {
    val data = Tables(spark, sf0001, "embeddings")
      .select(array_to_vector(col("embedding")).as("rawFeatures"),
        concat(lit("class_"), col("label")).as("labelStr"))
    // like the reference: fit the label indexer first, then hand its
    // labels to IndexToString (Spark 4: labelsArray, not labels —
    // SURVEY §7 risk 7)
    val labelIndexer = new StringIndexer().setInputCol("labelStr")
      .setOutputCol("indexedLabel").fit(data)
    val pipeline = new Pipeline().setStages(Array(
      labelIndexer,
      new VectorIndexer().setInputCol("rawFeatures").setOutputCol("features")
        .setMaxCategories(4),
      new DecisionTreeClassifier().setLabelCol("indexedLabel")
        .setFeaturesCol("features").setMaxDepth(5).setSeed(2020L),
      new IndexToString().setInputCol("prediction").setOutputCol("predictedStr")
        .setLabels(labelIndexer.labelsArray(0))))
    val model = pipeline.fit(data)
    val out = model.transform(data)
    assert(out.columns.contains("predictedStr"))
    val preds = out.select("predictedStr").distinct().collect()
      .map(_.getString(0))
    assert(preds.forall(_.startsWith("class_")))
  }

  test("LDA model persists and predicts identically after reload in a fresh session") {
    // the reference's two-session flow (`LDARunner.scala:106-115,185-186`):
    // train + save in one session; in a FRESH session re-read the raw
    // table, re-featurize through the persisted vectorizer, load the
    // model, and predict — the sessions share only the saved artifacts
    import org.apache.spark.ml.clustering.{DistributedLDAModel, LDA}
    import org.apache.spark.ml.feature.{CountVectorizer, CountVectorizerModel}
    val toks = graft.ml.TextModels.tokenized(
      Tables(spark, sf0001, "documents").limit(100))
    val cv = new CountVectorizer().setInputCol("tokens")
      .setOutputCol("features").setVocabSize(64).fit(toks)
    val feats = cv.transform(toks).localCheckpoint()
    val m = new LDA().setK(3).setMaxIter(5).setSeed(2020L)
      .setOptimizer("em").fit(feats)
    val path = tmp("lda_model")
    val cvPath = tmp("lda_cv_model")
    m.write.overwrite().save(path)
    cv.write.overwrite().save(cvPath)
    val before = m.transform(feats)
      .select(col("doc_id"), col("topicDistribution")).collect()
      .map(r => r.getLong(0) ->
        r.getAs[org.apache.spark.ml.linalg.Vector](1)).toMap
    val fresh = spark.newSession()
    org.apache.spark.sql.SparkSession.setActiveSession(fresh)
    try {
      val toks2 = graft.ml.TextModels.tokenized(
        Tables(fresh, sf0001, "documents").limit(100))
      val feats2 = CountVectorizerModel.load(cvPath).transform(toks2)
      val loaded = DistributedLDAModel.load(path)
      val after = loaded.transform(feats2)
        .select(col("doc_id"), col("topicDistribution")).collect()
        .map(r => r.getLong(0) ->
          r.getAs[org.apache.spark.ml.linalg.Vector](1)).toMap
      assert(after.keySet == before.keySet && before.nonEmpty)
      // the save/load parquet round trip perturbs the EM statistics at
      // ~1e-6; equality at 1e-4 matches the output rounding discipline
      before.foreach { case (id, a) =>
        a.toArray.zip(after(id).toArray).foreach { case (x, y) =>
          assert(math.abs(x - y) < 1e-4) } }
    } finally org.apache.spark.sql.SparkSession.setActiveSession(spark)
  }

  test("mllib RDD path agrees with DataFrame path (reference dual-API check)") {
    // Pearson: mllib.stat.Statistics vs SQL corr on two columns
    val li = Tables(spark, sf0001, "lineitem")
    val rdd = li.select("l_quantity", "l_extendedprice").rdd
      .map(r => (r.getDouble(0), r.getDouble(1)))
    val mllibCorr = org.apache.spark.mllib.stat.Statistics
      .corr(rdd.map(_._1), rdd.map(_._2), "pearson")
    val sqlCorr = li.agg(corr($"l_quantity", $"l_extendedprice"))
      .head().getDouble(0)
    assert(math.abs(mllibCorr - sqlCorr) < 1e-9)
  }

  test("kmeans DF path agrees with mllib RDD path (reference dual-API check)") {
    // `KMeansRunner.scala:136-189` runs both APIs and verifies at the
    // 0.5% scalar tolerance; ml delegates to mllib, so same seed ⇒ same
    // clustering
    import org.apache.spark.ml.clustering.KMeans
    val data = graft.ml.Supervised.embeddingFeatures(
      Tables(spark, sf0001, "embeddings"))
    val ml = new KMeans().setK(4).setMaxIter(10).setSeed(2020L).fit(data)
    val rdd = data.select("features").rdd.map(r =>
      org.apache.spark.mllib.linalg.Vectors.fromML(
        r.getAs[org.apache.spark.ml.linalg.Vector](0)))
      .cache()
    val mllibModel = new org.apache.spark.mllib.clustering.KMeans()
      .setK(4).setMaxIterations(10).setSeed(2020L).run(rdd)
    val dfCost = ml.summary.trainingCost
    val rddCost = mllibModel.computeCost(rdd)
    assert(graft.core.VerifyUtils.scalarMatch(dfCost, rddCost),
      s"df $dfCost vs rdd $rddCost")
    rdd.unpersist()
  }

  test("decision tree DF path agrees with mllib RDD path (reference dual-API check)") {
    // `DTRunner.scala:347-407` runs trainClassifier on the RDD side
    // against the DF estimator on the same split
    import org.apache.spark.ml.classification.DecisionTreeClassifier
    import org.apache.spark.mllib.regression.LabeledPoint
    import org.apache.spark.mllib.tree.DecisionTree
    val data = graft.ml.Supervised.embeddingFeatures(
      Tables(spark, sf0001, "embeddings")).cache()
    val ml = new DecisionTreeClassifier().setMaxDepth(5).setMaxBins(32)
      .setImpurity("gini").setSeed(2020L).fit(data)
    val rdd = data.rdd.map(r => LabeledPoint(r.getDouble(1),
      org.apache.spark.mllib.linalg.Vectors.fromML(
        r.getAs[org.apache.spark.ml.linalg.Vector](0)))).cache()
    val numClasses = data.select("label").distinct().count().toInt
    val mllibModel = DecisionTree.trainClassifier(rdd, numClasses,
      Map.empty[Int, Int], "gini", 5, 32)
    val mlPred = ml.transform(data).select("prediction").collect()
      .map(_.getDouble(0))
    val rddPred = rdd.map(p => mllibModel.predict(p.features)).collect()
    val agree = mlPred.zip(rddPred).count { case (a, b) => a == b }.toDouble /
      mlPred.length
    // both paths share the histogram-split core; small drift allowed for
    // bin-boundary ties
    assert(agree >= 0.95, s"agreement $agree")
    rdd.unpersist(); data.unpersist()
  }

  test("ALS DF path agrees with mllib RDD path (reference dual-API check)") {
    // `ALSRunner.scala:241-290` RDD path vs `:169-239` DF path
    import org.apache.spark.ml.recommendation.ALS
    import org.apache.spark.mllib.recommendation.{ALS => OldALS, Rating}
    val ratings = Tables(spark, sf0001, "events")
      .groupBy((col("user_id") % 50).cast("int").as("user"),
        (col("event_id") % 20).cast("int").as("item"))
      .agg(avg("value").cast("float").as("rating")).cache()
    val ml = new ALS().setRank(4).setMaxIter(5).setSeed(2020L)
      .setRegParam(0.1)
      .setUserCol("user").setItemCol("item").setRatingCol("rating")
      .setColdStartStrategy("drop").fit(ratings)
    val mlRmse = {
      val p = ml.transform(ratings)
      math.sqrt(p.select(avg(pow(col("rating") - col("prediction"), 2)))
        .head().getDouble(0))
    }
    val rdd = ratings.rdd.map(r => Rating(r.getInt(0), r.getInt(1),
      r.getFloat(2).toDouble)).cache()
    // seed both paths: the unseeded overload draws random init and the
    // comparison becomes run-to-run noise
    val old = OldALS.train(rdd, 4, 5, 0.1, -1, 2020L)
    val preds = old.predict(rdd.map(r => (r.user, r.product)))
      .map(r => ((r.user, r.product), r.rating))
    val joined = rdd.map(r => ((r.user, r.product), r.rating)).join(preds)
    val rddRmse = math.sqrt(joined.map { case (_, (a, b)) =>
      (a - b) * (a - b) }.mean())
    // the two front-ends block the factor matrices differently, so the
    // seeded inits differ and bit-equality is out; both fits are
    // deterministic and land within 1% of each other (asserted at 2%)
    assert(graft.core.VerifyUtils.scalarMatch(mlRmse, rddRmse, 0.02),
      s"df $mlRmse vs rdd $rddRmse")
    rdd.unpersist(); ratings.unpersist()
  }

  test("knn nested output shape mirrors the flat ranking") {
    import org.apache.spark.sql.functions.col
    val e = Tables(spark, sf0001, "embeddings")
    val model = graft.ml.knn.Knn.fit(spark, e)
    val qs = e.filter(col("vec_id") < 5)
    val nested = model.searchNested(qs, k = 3, tau = 1e9).collect()
    val flat = model.search(qs, k = 3, tau = 1e9).collect()
      .groupBy(_.getLong(0))
    assert(nested.length == 5)
    nested.foreach { r =>
      val ids = r.getSeq[Long](1)
      val ds = r.getSeq[Double](2)
      assert(ids.length == 3 && ds.length == 3)
      val want = flat(r.getLong(0)).sortBy(_.getInt(1)).map(_.getLong(2)).toSeq
      assert(ids == want, s"query ${r.getLong(0)}")
    }
  }

  test("co-bucketed tables join without a shuffle") {
    import org.apache.spark.sql.functions.col
    val o = Tables(spark, sf0001, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val li = Tables(spark, sf0001, "lineitem")
      .select("l_orderkey", "l_quantity")
    Writers.bucketed(o, "orders_b", Seq("o_orderkey"), 4)
    Writers.bucketed(li.withColumnRenamed("l_orderkey", "o_orderkey"),
      "lineitem_b", Seq("o_orderkey"), 4)
    // disable broadcast so the planner must choose between shuffle and
    // bucket co-location — bucketing has to win
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = spark.table("orders_b")
        .join(spark.table("lineitem_b"), "o_orderkey")
        .groupBy("o_orderkey")
        .agg(org.apache.spark.sql.functions.sum("l_quantity").as("q"))
      j.collect()
      val p = j.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert(p.contains("SortMergeJoin"), p.take(3000))
      assert(!p.contains("Exchange"), p.take(3000))
      assert(p.contains("SelectedBucketsCount") || p.contains("Bucketed: true"),
        p.take(3000))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS lineitem_b")
    }
  }

  test("hll approx distinct within 5% of exact at sf0.001") {
    val li = Tables(spark, sf0001, "lineitem")
    val exact = li.select(countDistinct($"l_partkey")).head().getLong(0)
    val approx = li.select(approx_count_distinct($"l_partkey", 0.02))
      .head().getLong(0)
    assert(math.abs(approx - exact).toDouble / exact < 0.05,
      s"approx $approx vs exact $exact")
  }

  test("exportTrainingSet: curated survivors land in split=/shard= JSONL " +
      "partitions with operator-consistent assignments") {
    import graft.llm.{CorpusOps, TextOps}
    val docs = Seq(
      (1L, "the quick brown fox jumps over a lazy dog in the sun"),
      (2L, "zz zz zz zz zz zz zz zz zz zz"), // fails quality
      (3L, "the quick brown fox jumps over a lazy dog in the sun"), // dup of 1
      (4L, "it is a truth universally acknowledged that a reader wants data"))
      .toDF("doc_id", "text")
    val dir = tmp("graft-export-train")
    CorpusOps.exportTrainingSet(docs, dir, shingleSize = 1, nShards = 2)
    val back = spark.read.json(dir)
    val ids = back.select("doc_id").collect().map(_.getLong(0)).toSet
    val survivors = TextOps.curate(docs, shingleSize = 1)
      .collect().map(_.getLong(0)).toSet
    assert(ids == survivors && ids.nonEmpty, s"got $ids want $survivors")
    // split/shard in the files equal the standalone operators' decisions
    val expSplit = CorpusOps.splitAssign(docs).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val expShard = CorpusOps.shard(docs, nShards = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    back.collect().foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(r.getAs[String]("split") == expSplit(id))
      // partition-dir values read back as inferred ints
      assert(r.getAs[Number]("shard").longValue == expShard(id))
    }
    // physical layout: split=<s>/shard=<n>/ directories
    val splitDirs = new java.io.File(dir).listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(splitDirs.forall(_.startsWith("split=")), splitDirs.toString)
  }

  test("persisted minhash index round trip: incremental probe against a " +
      "loaded index equals the self-contained path") {
    import graft.llm.Dedup
    val corpus = Seq(
      (100L, "the cat sat on the mat today"),
      (101L, "a completely different corpus document here"))
      .toDF("doc_id", "text")
    val incoming = Seq(
      (1L, "the cat sat on the mat today"),
      (2L, "brand new content never seen before"))
      .toDF("doc_id", "text")
    // build and PERSIST the dedup index — the 100 TB deployment keeps
    // these two tables in storage and never re-shingles the corpus
    val dir = tmp("graft-dedup-index")
    Dedup.withShingleSets(corpus, 1).write.parquet(s"$dir/shingles")
    Dedup.minHash(corpus, shingleSize = 1).write.parquet(s"$dir/bands")
    val viaIndex = Dedup.incrementalNearDupsIndexed(incoming,
        spark.read.parquet(s"$dir/bands"),
        spark.read.parquet(s"$dir/shingles"), shingleSize = 1)
      .collect().map(_.toSeq).toSet
    val selfContained = Dedup.incrementalNearDups(incoming, corpus,
        shingleSize = 1)
      .collect().map(_.toSeq).toSet
    assert(viaIndex == selfContained && viaIndex.nonEmpty,
      s"index=$viaIndex self=$selfContained")
    // an index built with the sha2/replicable family must be probed
    // with the matching flag — and then finds the same planted dup
    Dedup.minHash(corpus, shingleSize = 1, replicable = true)
      .write.parquet(s"$dir/bands_r")
    val viaReplicable = Dedup.incrementalNearDupsIndexed(incoming,
        spark.read.parquet(s"$dir/bands_r"),
        spark.read.parquet(s"$dir/shingles"), shingleSize = 1,
        replicable = true)
      .collect().map(_.toSeq).toSet
    assert(viaReplicable == selfContained,
      s"replicable-family probe drifted: $viaReplicable")
  }

  test("ingestion loop: probe -> admit -> append delta; the next batch " +
      "dedups against what the last one admitted") {
    import graft.llm.Dedup
    val corpus = Seq(
      (100L, "the cat sat on the mat today"))
      .toDF("doc_id", "text")
    val dir = tmp("graft-ingest-loop")
    Dedup.withShingleSets(corpus, 1).write.parquet(s"$dir/shingles")
    Dedup.minHash(corpus, shingleSize = 1).write.parquet(s"$dir/bands")
    def bands = spark.read.parquet(s"$dir/bands")
    def shingles = spark.read.parquet(s"$dir/shingles")
    // batch 1: one corpus dup (rejected), one fresh doc (admitted)
    val batch1 = Seq(
      (1L, "the cat sat on the mat today"),
      (2L, "pack my box with five dozen liquor jugs"))
      .toDF("doc_id", "text")
    val admitted1 = Dedup.incrementalAdmitIndexed(batch1, bands, shingles,
      shingleSize = 1)
    assert(admitted1.collect().map(_.getLong(0)).toSet == Set(2L))
    // append the admitted docs' index delta — the loop-closing step
    val keep1 = batch1.join(admitted1, Seq("doc_id"))
    val (dBands, dShingles) = Dedup.indexDelta(keep1, shingleSize = 1)
    dBands.write.mode("append").parquet(s"$dir/bands")
    dShingles.write.mode("append").parquet(s"$dir/shingles")
    // batch 2: a dup OF BATCH 1's admission — only the updated index
    // can reject it — plus a fresh doc
    val batch2 = Seq(
      (10L, "pack my box with five dozen liquor jugs"),
      (11L, "completely different words entirely here now"))
      .toDF("doc_id", "text")
    val admitted2 = Dedup.incrementalAdmitIndexed(batch2, bands, shingles,
        shingleSize = 1)
      .collect().map(_.getLong(0)).toSet
    assert(admitted2 == Set(11L),
      s"stale index: batch-1 admission not deduped against, got $admitted2")
    // the appended index is indistinguishable from a full rebuild
    val rebuilt = corpus.union(keep1)
    val viaAppend = Dedup.incrementalNearDupsIndexed(batch2, bands, shingles,
      shingleSize = 1).collect().map(_.toSeq).toSet
    val viaRebuild = Dedup.incrementalNearDups(batch2, rebuilt,
      shingleSize = 1).collect().map(_.toSeq).toSet
    assert(viaAppend == viaRebuild && viaAppend.nonEmpty,
      s"append=$viaAppend rebuild=$viaRebuild")
  }

  /** The same corpus indexed at 1 (strided), 2 and 3 (trained) levels. */
  private def ivfIndexes(emb: org.apache.spark.sql.DataFrame) = {
    import graft.llm.Similarity
    Seq(Similarity.ivfIndex(emb),
      Similarity.ivfTrainedIndex(emb, nlist = 4, splits = Seq(2)),
      Similarity.ivfTrainedIndex(emb, nlist = 4, splits = Seq(2, 2)))
  }

  test("persisted IVF index at 1, 2 and 3 levels: the written-then-read " +
      "probe equals the fused build+probe") {
    import graft.llm.Similarity
    val emb = Tables(spark, sf0001, "embeddings")
    val queries = emb.filter(col("vec_id") < 8)
    val n = emb.count()
    val dir = tmp("graft-ivf-index")
    // deepest first into ONE directory: a shallower write must not leave
    // the deeper index's codebooks behind for the reader to count
    for (built <- ivfIndexes(emb).reverse) {
      Similarity.ivfWrite(built, dir)
      val stored = Similarity.ivfRead(spark, dir)
      assert(stored.levels == built.levels)
      assert(stored.assignment.count() == n)
      val fused = Similarity.ivfProbe(queries, built, k = 5)
        .collect().map(_.toSeq).toSeq
      assert(fused.nonEmpty)
      // partitionBy(level keys) is the deployment shape: the
      // static-pruned probe reads only the probed cells' files
      for (prune <- Seq(false, true))
        assert(Similarity.ivfProbe(queries, stored, k = 5,
          staticPrune = prune).collect().map(_.toSeq).toSeq == fused,
          s"${built.levels} levels, staticPrune = $prune")
    }
  }

  test("an IVF index in the per-family on-disk layout reads back and " +
      "probes like the index it was written from") {
    // the layout the one-, two- and three-level writers produced before
    // the index became one type: codebooks under centroids/,
    // subcentroids/, subcentroids3/, the assignment partitioned by its
    // keys, a one-row kernel marker
    import graft.llm.Similarity
    val emb = Tables(spark, sf0001, "embeddings")
    val queries = emb.filter(col("vec_id") < 8)
    val kernel =
      if (spark.catalog.functionExists("graft_euclid")) "graft_euclid/1"
      else "builtin_hof_euclid/1"
    val dirs = Seq("centroids", "subcentroids", "subcentroids3")
    val keys = Seq("cell", "sub", "sub2")
    for (built <- ivfIndexes(emb)) {
      val dir = tmp(s"graft-ivf-legacy${built.levels}")
      built.codebooks.zip(dirs).foreach { case (cb, d) =>
        cb.write.parquet(s"$dir/$d") }
      built.assignment.write.partitionBy(keys.take(built.levels): _*)
        .parquet(s"$dir/assign")
      Seq(kernel).toDF("kernel").write.parquet(s"$dir/meta")
      val stored = Similarity.ivfRead(spark, dir)
      assert(stored.levels == built.levels)
      assert(Similarity.ivfProbe(queries, stored, k = 5).collect().toSeq ==
        Similarity.ivfProbe(queries, built, k = 5).collect().toSeq)
    }
  }

  test("IVF index load fails loudly when the stored kernel marker " +
      "differs from the probing session's kernel") {
    import graft.llm.Similarity
    val emb = Tables(spark, sf0001, "embeddings")
    for (built <- ivfIndexes(emb)) {
      val dir = tmp(s"graft-ivf-kernel${built.levels}")
      Similarity.ivfWrite(built, dir)
      // the marker round-trips on a matched session
      assert(Similarity.ivfRead(spark, dir).levels == built.levels)
      // simulate an index built by a session with a different kernel
      Seq("some_other_kernel/9").toDF("kernel")
        .write.mode("overwrite").parquet(s"$dir/meta")
      val e = intercept[IllegalArgumentException] {
        Similarity.ivfRead(spark, dir)
      }
      assert(e.getMessage.contains("kernel"), e.getMessage)
    }
  }
}
