package graft.config

import org.apache.spark.sql.SparkSession

/** Environment-backed runtime configuration (H3 parity: the reference
  * centralizes env config in a validated singleton settings object,
  * `/root/reference/src/config/settings.py:24-135`, instead of ad-hoc
  * `os.getenv` reads; graft's analog gathers the `SPARK_GRAFT_*`
  * variables behind one validated case class and a session factory).
  *
  * All knobs default sanely for the driver harness (local[32] with
  * shuffle partitions = cores — NOT Spark's default 200, which would
  * fragment every exchange at this scale); invalid values fail fast
  * with every offending variable listed, mirroring the reference's
  * collect-then-raise validation.
  */
final case class GraftConfig(
    sfDir: String,
    cpus: Int,
    appName: String) {

  /** A session shaped for the driver contract: local master sized to
    * `cpus`, UTC (oracle parity), AQE on for runtime re-planning.
    */
  def newSession(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
      .config("spark.sql.catalog.graft.warehouse",
        GraftConfig.catalogWarehouse)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

object GraftConfig {

  /** Per-JVM warehouse root for the `graft` DSv2 catalog — a fresh
    * temp dir so concurrent Verify/Bench JVMs never collide; a real
    * deployment points `spark.sql.catalog.graft.warehouse` at durable
    * storage instead.
    */
  lazy val catalogWarehouse: String = java.nio.file.Files
    .createTempDirectory("graft-catalog-wh").toString

  val SfDirVar = "SPARK_GRAFT_SF_DIR"
  val CpusVar = "SPARK_GRAFT_CPUS"

  val DefaultSfDir = "/root/testdata/sf0.1"
  val DefaultCpus = 32

  /** Build from an environment map (defaults to `sys.env`); collects
    * every invalid variable before failing, like the reference's
    * `validate()`.
    */
  def fromEnv(env: Map[String, String] = sys.env,
      appName: String = "graft"): GraftConfig = {
    val errors = scala.collection.mutable.ArrayBuffer[String]()
    val sfDir = env.get(SfDirVar) match {
      case Some(d) if d.trim.nonEmpty => d
      case Some(_) => errors += s"$SfDirVar is empty"; DefaultSfDir
      case None => DefaultSfDir
    }
    val cpus = env.get(CpusVar) match {
      case Some(c) => c.toIntOption match {
        case Some(n) if n > 0 => n
        case _ => errors += s"$CpusVar must be a positive integer, got '$c'"
          DefaultCpus
      }
      case None => DefaultCpus
    }
    if (errors.nonEmpty)
      throw new IllegalArgumentException(
        s"Invalid graft configuration: ${errors.mkString("; ")}")
    GraftConfig(sfDir = sfDir, cpus = cpus, appName = appName)
  }
}
