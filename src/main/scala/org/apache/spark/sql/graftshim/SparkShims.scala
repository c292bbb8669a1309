package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic

/** The `private[sql]` bridges graft's SQL DML surface needs, and the
  * `private[spark]` listener-bus drain its tracer (`graft.obs.Trace`)
  * needs. Spark deliberately scopes plan-construction helpers to
  * its own package; an extension that intercepts parsed `MERGE INTO` /
  * `UPDATE` / `DELETE` statements must still (a) wrap a parsed catalyst
  * `Expression` back into a public [[Column]] to hand it to the engine,
  * and (b) execute the statement's source sub-plan as a [[DataFrame]].
  * Every table-format extension that speaks SQL DML carries exactly this
  * pair; keeping them in one tiny leaf package makes the private-API
  * surface auditable — nothing outside this object touches
  * `org.apache.spark.sql.classic` internals.
  */
object SparkShims {

  /** Public [[Column]] over a catalyst expression (typically an
    * unresolved one straight from the parser — it resolves against
    * whatever frame it is later applied to).
    */
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** Execute a logical plan as a DataFrame — the source side of a parsed
    * MERGE statement (a table reference, a subquery, a VALUES list).
    */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Two schemas equal up to nullability and field-name case — the
    * public spelling of `StructType.sameType`, which Spark scopes
    * `private[sql]`.
    */
  def sameType(a: org.apache.spark.sql.types.StructType,
               b: org.apache.spark.sql.types.StructType): Boolean =
    a.sameType(b)

  /** Waits until every event posted so far has reached every listener.
    * Spark delivers listener events on background threads; a tracer
    * drains the bus at each span boundary so the span's task metrics
    * and query-execution callbacks are all attributed to it.
    */
  def drainListeners(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}

/** Public extension point over Spark's `private[sql]`
  * [[org.apache.spark.sql.connector.catalog.V2TableWithV1Fallback]] —
  * the trait `DataStreamWriter.toTable` and the analyzer's streaming
  * read resolution dispatch on to route a catalog table onto its V1
  * streaming source/sink (the same seam Delta's `DeltaTableV2` rides).
  * Spark keeps the trait package-private because the `CatalogTable` it
  * returns is an internal type; a table format implementing it must
  * therefore declare it from inside the package. This shim is that
  * declaration and nothing more.
  */
trait V1FallbackTableShim
  extends org.apache.spark.sql.connector.catalog.V2TableWithV1Fallback

/** Ship the driver's resolved Hadoop configuration into executor tasks
  * — the standard vehicle for distributed filesystem work (every Spark
  * datasource does exactly this under the hood via
  * `org.apache.spark.util.SerializableConfiguration`, which Spark
  * scopes `private[spark]`; this is its public spelling). Needed by
  * any operation that touches files from tasks OUTSIDE a datasource
  * scan — e.g. DEEP CLONE's distributed file copy — because a
  * `Configuration` built fresh on the executor would lose the
  * session's filesystem settings (credentials, endpoints, timeouts).
  */
final class SerializableHadoopConf(
    conf: org.apache.hadoop.conf.Configuration) extends Serializable {
  private val inner = new org.apache.spark.util.SerializableConfiguration(conf)
  def value: org.apache.hadoop.conf.Configuration = inner.value
}
