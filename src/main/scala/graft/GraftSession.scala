package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** The one SparkSession builder behind graft's mains.
  *
  * A tool session ([[apply]], [[withMaster]]) gets, in this order
  * (later settings win):
  *  1. a master: the passthrough's, else spark-submit's `--master` /
  *     `-Dspark.master`, else the caller's fallback (`local[cpus]`);
  *  2. `spark.ui.enabled=false`;
  *  3. one shuffle partition per task slot of that master and a UTC
  *     session time zone, then the caller's own confs;
  *  4. `SPARK_GRAFT_EXTRA_CONF="k=v;k2=v2"`, so the passthrough
  *     overrides every default and can set static confs (it is applied
  *     on the builder, before the context starts).
  *
  * RunPlan's product session ([[build]]) gets only spark-submit's
  * master (else the fallback), the UI off and its own confs; it does
  * not read the passthrough, so a deployment configures it through
  * spark-submit alone.
  *
  * Graft's extensions are NOT installed here: tool plans must stay the
  * plans the contract queries produce without `spark.sql.extensions`.
  */
object GraftSession {
  /** Local core count: `SPARK_GRAFT_CPUS`, default the machine's cores. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `local-cluster[executors,coresPerExecutor,memoryMb]`. */
  val LocalCluster = """local-cluster\[\s*(\d+)\s*,\s*(\d+)\s*,\s*(\d+)\s*\]""".r
  private val LocalN = """local\[(\d+)(?:\s*,\s*\d+)?\]""".r

  /** Task slots `master` offers: executors × cores for `local-cluster`,
    * n for `local[n]`, else [[cpus]]. */
  def cores(master: String): Int = master match {
    case LocalCluster(n, c, _) => n.toInt * c.toInt
    case LocalN(n) => n.toInt
    case _ => cpus
  }

  /** Parses a `k=v;k2=v2` passthrough; a malformed entry fails with its
    * text quoted rather than dying later in a destructuring bind. */
  def parseConf(spec: String): Seq[(String, String)] =
    spec.split(";").toSeq.map(_.trim).filter(_.nonEmpty).map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.trim.nonEmpty => (k.trim, v)
        case _ => throw new IllegalArgumentException(
          s"bad SPARK_GRAFT_EXTRA_CONF entry (expected k=v): '$kv'")
      }
    }

  def passthrough: Seq[(String, String)] =
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").map(parseConf).getOrElse(Nil)

  /** The master a session built from these inputs runs on: the
    * passthrough's (applied last), else `conf`'s (spark-submit and
    * `-Dspark.master` land there), else `fallback`. */
  def master(conf: SparkConf, passthrough: Seq[(String, String)],
      fallback: String): String =
    passthrough.reverseIterator.collectFirst { case ("spark.master", m) => m }
      .orElse(conf.getOption("spark.master"))
      .getOrElse(fallback)

  /** A tool's [[master]] for this process's conf and environment. */
  def master(fallback: String): String =
    master(new SparkConf(), passthrough, fallback)

  /** Every setting in application order; a later entry wins. */
  def settings(conf: SparkConf, fallbackMaster: String,
      confs: Seq[(String, String)],
      passthrough: Seq[(String, String)]): Seq[(String, String)] =
    Seq("spark.master" -> master(conf, passthrough, fallbackMaster),
      "spark.ui.enabled" -> "false") ++ confs ++ passthrough

  /** The tool defaults for a session on `master`: one shuffle partition
    * per task slot, UTC. */
  def toolDefaults(master: String): Seq[(String, String)] =
    Seq("spark.sql.shuffle.partitions" -> cores(master).toString,
      "spark.sql.session.timeZone" -> "UTC")

  private def start(settings: Seq[(String, String)]): SparkSession =
    settings.foldLeft(SparkSession.builder()) { case (b, (k, v)) =>
      b.config(k, v)
    }.getOrCreate()

  /** RunPlan's product session: the master rule without the
    * passthrough, the UI off, then `confs`. */
  def build(fallbackMaster: String,
      confs: Seq[(String, String)]): SparkSession =
    start(settings(new SparkConf(), fallbackMaster, confs, Nil))

  /** A tool session, `local[cpus]` unless a master is given elsewhere. */
  def apply(confs: (String, String)*): SparkSession =
    withMaster(s"local[$cpus]", confs: _*)

  /** [[apply]] with another fallback master, used only when neither
    * spark-submit nor the passthrough names one. */
  def withMaster(fallbackMaster: String,
      confs: (String, String)*): SparkSession = {
    val conf = new SparkConf()
    val extra = passthrough
    val spark = start(settings(conf, fallbackMaster,
      toolDefaults(master(conf, extra, fallbackMaster)) ++ confs, extra))
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
