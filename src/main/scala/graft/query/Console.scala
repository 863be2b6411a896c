package graft.query

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.store.ServiceStore

/** O15 — the raw-SQL passthrough.
  *
  * The reference forwards any SQL string to the embedded engine and
  * renders rows or the engine error (ballcone/dao.py:344-352,
  * web_ballcone.py:130-155). Here "the engine underneath" is Spark SQL.
  * The two catalog idioms the reference's own UI depends on are shimmed
  * as views: `graft_database_size` (for `pragma_database_size()`,
  * dao.py:148) and `graft_tables` (for the `sqlite_master` listing,
  * dao.py:150-160). Dialect scope is Spark SQL + these shims
  * (SURVEY §7.4.6).
  */
final class Console(spark: SparkSession, store: ServiceStore) {

  /** Default console query, mirroring web_ballcone.py:134. */
  val defaultQuery = "SELECT * FROM graft_database_size"

  // O21 — TTL-cached DB-size scalar (web_ballcone.py:194-200 memoizes
  // the pragma for 300 s).
  private var sizeCache: Option[(Long, Long)] = None

  def cachedSizeBytes(ttlMillis: Long = 300000L): Long = synchronized {
    val now = System.currentTimeMillis()
    sizeCache match {
      case Some((v, at)) if now - at < ttlMillis => v
      case _ =>
        val v = store.sizeBytes()
        sizeCache = Some((v, now))
        v
    }
  }

  /** (Re)build the catalog shim views from current store state. */
  def refreshShims(): Unit = refreshShims(store.list())

  private var shimsVersion: Option[Long] = None

  /** Rebuild the shims only if the store changed since they were last
    * built here: a view keeps the file list it was built from, so an
    * older one misses later appends and, after a compaction, names
    * retired files. Call it under [[ServiceStore.reading]], with the
    * query that reads the views.
    */
  def refreshIfChanged(): Unit = synchronized {
    val v = store.version
    if (!shimsVersion.contains(v)) {
      refreshShims()
      shimsVersion = Some(v)
    }
  }

  /** Rebuild the shims from a listing of `services`; one dropped since
    * that listing gets an empty view.
    */
  private[graft] def refreshShims(services: Seq[String]): Unit = {
    import spark.implicits._
    Seq(store.sizeBytes()).toDF("database_size")
      .createOrReplaceTempView("graft_database_size")
    services.toDF("name").createOrReplaceTempView("graft_tables")
    services.foreach { s =>
      if (store.checkService(s))
        store.read(s).createOrReplaceTempView(s)
    }
  }

  /** Run arbitrary SQL; Left(error message) on parse/analysis failure,
    * rendered like the reference's error pane (web_ballcone.py:142-143).
    * `spark.sql` is lazy, so RUNTIME failures surface later at
    * materialization — [[graft.api.WebApi]] catches those at its
    * (bounded) collect and maps them to the same 400 error pane.
    */
  def run(sql: String): Either[String, DataFrame] =
    try Right(spark.sql(sql))
    catch { case NonFatal(e) => Left(e.getMessage) }
}
