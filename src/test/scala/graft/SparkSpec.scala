package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one JVM-wide session — Spark
  * startup dominates test wall-clock otherwise).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf0001 = "/root/testdata/sf0.001"
  def sf001 = "/root/testdata/sf0.01"

  /** Runs `body` under [[Harness.auditConfs]], the planning regime
    * `graft.Explain` fingerprints with. Restores the confs and clears
    * catalog caches afterwards.
    */
  def withAuditConf[A](body: => A): A = {
    val conf = spark.conf
    val saved = Harness.auditConfs.map { case (k, _) => k -> conf.get(k) }
    Harness.auditConfs.foreach { case (k, v) => conf.set(k, v) }
    try body
    finally {
      saved.foreach { case (k, v) => conf.set(k, v) }
      queries.Catalog.clearCaches(spark)
    }
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val wh = java.nio.file.Files.createTempDirectory("graft_wh").toString
    Harness.session("4", confs = Seq(
      "spark.app.name" -> "graft-test",
      "spark.sql.warehouse.dir" -> wh,
      "javax.jdo.option.ConnectionURL" ->
        s"jdbc:derby:;databaseName=$wh/metastore_db;create=true"))
  }
}
