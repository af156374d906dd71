package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{count, lit}

/** The one reader of observed metrics, and the checkpoint that counts
  * its own rows.
  *
  * Uses the string form of `Dataset.observe` (a bare CollectMetrics node
  * read back through `queryExecution.observedMetrics` once the plan has
  * run), NOT an `Observation` handle: instantiating Observation
  * materializes the session's `observationManager` lazy val, which is
  * not java-serializable — and MLlib model closures (the ml_*_rule
  * queries) serialize the whole SparkSession via their training
  * summaries, so one Observation anywhere in the suite would break
  * every later model.transform (probed: NotSerializableException:
  * ObservationManager).
  *
  * Every metric read here is required: a name the plan does not carry,
  * or a null value (a `sum` over no rows), is a wiring error, so it
  * fails naming the metric and the plan instead of defaulting to a
  * plausible 0 — callers observe `count`s, which are never null. The
  * frame must have been executed through its OWN QueryExecution (a
  * checkpoint, a collect); `Dataset.count()` runs an ad-hoc one and
  * leaves the metric at its initial value.
  */
object Observed {

  /** The `field` of observed metric `metric` on an ALREADY-EXECUTED
    * `df`, as a Long. */
  def long(df: DataFrame, metric: String, field: String): Long = {
    def fail(why: String) = throw new IllegalStateException(
      s"observed metric '$metric.$field' $why in plan:\n" +
        df.queryExecution.analyzed.treeString)
    val row = df.queryExecution.observedMetrics.getOrElse(metric,
      fail("is not observed"))
    val i = scala.util.Try(row.fieldIndex(field))
      .getOrElse(fail("has no such field"))
    if (row.isNullAt(i)) fail("is null")
    row.getLong(i)
  }

  /** Eager `localCheckpoint` of `df` together with its row count, taken
    * from the checkpoint job itself (one job, not a checkpoint plus a
    * second `count()` scan). The metric name is fixed: an observation
    * lives only until the checkpoint cuts its lineage, so no plan that
    * reaches here still carries another one. */
  def checkpointCounted(df: DataFrame): (DataFrame, Long) = {
    val obs = df.observe("graft_rows", count(lit(1)).as("n"))
    val cp = obs.localCheckpoint()
    (cp, long(obs, "graft_rows", "n"))
  }
}
