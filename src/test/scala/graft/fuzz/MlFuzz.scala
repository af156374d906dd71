package graft.fuzz

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Json
import graft.ml.{MlQueries, SimRank, TextModels, Unsupervised, clustering, knn}
import graft.sources.Tables

/** Parameter-grid differential fuzz over the ML operator surface
  * (round 12 — relational has 280 cases, LLM 87, graph 70; ML's
  * deterministic whole-fit oracles had one pinned point each): every
  * case pairs an estimator invocation with the SAME parameterized
  * oracle builder its pinned query uses (MlQueries.lloydSql /
  * simrankSql / alsFixedSql / nmfSql / knnSql / knnClassSql /
  * dbscanSql / prefixSpanSql), so pinned oracle and fuzz replay share
  * one SQL-generation path. The grid is PINNED (the parameters ARE the
  * corpus); expectations are committed DuckDB hashes in
  * src/test/resources/ml_fuzz_expected.json.
  *
  * Regenerating:
  *   sbt "Test/runMain graft.fuzz.MlFuzzDump /tmp/ml_fuzz.json"
  *   python3 tools/fuzz_expected.py /tmp/ml_fuzz.json \
  *     /root/testdata/sf0.001 src/test/resources/ml_fuzz_expected.json
  *
  * Grid-validity notes:
  *  - lloyd/als/nmf/simrank oracles are machine-generated unrolled
  *    loops — exact replicas at any (k, iters, lambda, damp); float
  *    literals interpolate the same Scala double both engines parse.
  *  - knn/knn_class/dbscan/prefixspan replay blocking + verify exactly
  *    at any parameters; dbscan's reachability closure is quadratic in
  *    the in-eps degree, bounded at sf0.001's 500 points.
  */
object MlFuzzSeed {

  final case class MlCase(id: String, sql: String,
      run: (SparkSession, String) => DataFrame)

  private def emb(s: SparkSession, d: String) = Tables(s, d, "embeddings")
  private def docs(s: SparkSession, d: String) = Tables(s, d, "documents")
  private def ev(s: SparkSession, d: String) = Tables(s, d, "events")

  lazy val cases: Seq[MlCase] = {
    val lloyd = Seq((2, 3), (3, 5), (6, 2), (8, 5)).map { case (k, it) =>
      MlCase(s"mfz_lloyd_k${k}_i$it",
        MlQueries.lloydSql(k, it, dim = 64),
        (s, d) => Unsupervised.lloydFixed(s, emb(s, d), k, it))
    }

    val knnEx = Seq((1, 10), (3, 25), (8, 5)).map { case (k, nq) =>
      MlCase(s"mfz_knn_k${k}_q$nq",
        MlQueries.knnSql(k, nq),
        (s, d) => {
          val e = emb(s, d)
          knn.Knn.fit(s, e).searchExact(e.filter(col("vec_id") < nq), k)
        })
    }

    val knnCls = Seq(3, 7).map { k =>
      MlCase(s"mfz_knncls_k$k",
        MlQueries.knnClassSql(kVote = k),
        (s, d) => {
          val e = emb(s, d)
          knn.Knn.fit(s, e)
            .classifyExact(e.filter(col("vec_id") < 500), k = k,
              labels = e)
            .join(e.select(col("vec_id").as("query_id"), col("label")),
              Seq("query_id"))
            .groupBy(col("label").cast("long").as("label"),
              col("prediction").cast("long").as("prediction"))
            .agg(count(lit(1)).as("cnt"))
            .orderBy("label", "prediction")
        })
    }

    val dbscan = Seq((0.03, 5), (0.05, 3), (0.08, 8), (0.1, 5)).map {
      case (eps, mp) =>
        MlCase(s"mfz_dbscan_e${(eps * 100).toInt}_m$mp",
          MlQueries.dbscanSql(eps, mp),
          (s, d) => {
            val pts = emb(s, d).select(col("vec_id").as("id"),
              element_at(col("embedding"), 1).cast("double").as("x"),
              element_at(col("embedding"), 2).cast("double").as("y"))
            clustering.Dbscan.fitPredict(s, pts, eps = eps,
              minPoints = mp)
          })
    }

    // on the full synthetic corpus EVERY pattern clears every
    // threshold (155 = 5 + 25 + 125 possible patterns over 5 event
    // types, all ≥90% support), so the grid THINS the input to
    // deterministic keep-1/mod event subsets — sequences shorten,
    // support spreads, and minSup discriminates (DuckDB-prototyped:
    // 131/14/2/5 surviving patterns across these four points)
    val prefix = Seq((0.2, 7, 0), (0.4, 11, 1), (0.6, 17, 2),
      (0.3, 23, 0)).map { case (ms, m, r) =>
        MlCase(s"mfz_prefixspan_s${(ms * 100).toInt}_m${m}_r$r",
          MlQueries.prefixSpanSql(ms,
            where = s"WHERE event_id % $m = $r"),
          (s, d) => TextModels.prefixSpan(s,
            ev(s, d).filter(col("event_id") % m === r), minSupport = ms))
    }

    val simrank = Seq((3, 0.6), (5, 0.8), (7, 0.4)).map {
      case (it, damp) =>
        MlCase(s"mfz_simrank_i${it}_d${(damp * 100).toInt}",
          MlQueries.simrankSql(it, damp),
          (s, d) => {
            val indexed = new org.apache.spark.ml.feature.StringIndexer()
              .setInputCol("event_type").setOutputCol("item")
              .fit(ev(s, d)).transform(ev(s, d))
            val ratings = indexed.groupBy(
                (col("user_id") % 100).cast("long").as("user"),
                col("item").cast("long").as("item"))
              .agg(count(lit(1)).cast("double").as("weight"))
            SimRank.userSimilarity(s, ratings, damp, it).limit(50)
          })
    }

    val als = Seq((3, 0.1), (5, 0.5), (8, 0.05)).map {
      case (it, lambda) =>
        MlCase(s"mfz_als_i${it}_l${(lambda * 100).toInt}",
          MlQueries.alsFixedSql(it, lambda),
          (s, d) => TextModels.alsFixed(s, ev(s, d), it, lambda))
    }

    val nmf = Seq((2, 2, 64), (3, 5, 64), (4, 3, 32)).map {
      case (k, it, vocab) =>
        MlCase(s"mfz_nmf_k${k}_i${it}_v$vocab",
          MlQueries.nmfSql(k, it, vocab),
          (s, d) => TextModels.nmfFixed(s, docs(s, d), k, it, vocab))
    }

    // matrix-stats family over dim slices: the pinned oracles run the
    // full 64-dim width; the grid slices the leading D dims on both
    // sides (Spark: slice() before the mllib Correlation / covariance;
    // SQL: the unpivot's generate_series bound)
    def sliced(s: SparkSession, d: String, dims: Int) =
      emb(s, d).select(col("vec_id"),
        slice(col("embedding"), 1, dims).as("embedding"))
    val stats = Seq(("corr", 4), ("spearman", 8), ("cov", 16)).map {
      case (kind, dims) =>
        MlCase(s"mfz_${kind}mat_d$dims",
          kind match {
            case "corr" => MlQueries.corrMatrixSql(dims)
            case "cov" => MlQueries.covMatrixSql(dims)
            case _ => MlQueries.spearmanMatrixSql(dims)
          },
          (s, d) => kind match {
            case "corr" =>
              graft.ml.Stats.corrMatrix(s, sliced(s, d, dims), "pearson")
            case "cov" => graft.ml.Stats.covMatrix(s, sliced(s, d, dims))
            case _ =>
              graft.ml.Stats.corrMatrix(s, sliced(s, d, dims), "spearman")
          })
    }

    // closed-form family over input slices (round-12 directive #7):
    // Cramer-OLS over permuted lineitem feature subsets (regParam 0
    // keeps Spark on the exact normal-equation solver at any columns),
    // and the 2×2 PCA/SVD eigensystems over non-leading dim pairs
    val linr = Seq(
      (Seq("l_extendedprice", "l_discount", "l_tax"), "l_quantity", "pq"),
      (Seq("l_tax", "l_quantity", "l_extendedprice"), "l_discount", "pd"),
      (Seq("l_discount", "l_tax", "l_quantity"), "l_extendedprice", "pp"))
      .map { case (fs, label, tag) =>
        MlCase(s"mfz_linr_$tag",
          MlQueries.cramerOlsSql(fs(0), fs(1), fs(2), label),
          (s, d) => graft.ml.Supervised.linearRegressionOn(s,
            Tables(s, d, "lineitem"), fs, label))
      }
    val eig2 = Seq(("pca2", 3), ("pca2", 17), ("svd2", 5), ("svd2", 33))
      .map { case (kind, off) =>
        MlCase(s"mfz_${kind}_o$off",
          if (kind == "pca2") MlQueries.pca2Sql(off)
          else MlQueries.svd2Sql(off),
          (s, d) =>
            if (kind == "pca2") Unsupervised.pca2(s, emb(s, d), off)
            else Unsupervised.svd2(s, emb(s, d), off))
      }

    lloyd ++ knnEx ++ knnCls ++ dbscan ++ prefix ++ simrank ++ als ++
      nmf ++ stats ++ linr ++ eig2
  }
}

/** Writes the ML fuzz grid's oracle SQL for tools/fuzz_expected.py.
  * Run: sbt "Test/runMain graft.fuzz.MlFuzzDump <out.json>". */
object MlFuzzDump {
  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/ml_fuzz.json")
    val json = MlFuzzSeed.cases
      .map(c => s"${Json.quote(c.id)}: ${Json.quote(c.sql)}")
      .mkString("{\n", ",\n", "\n}")
    Files.writeString(Paths.get(out), json)
    println(s"wrote ${MlFuzzSeed.cases.size} cases to $out")
  }
}
