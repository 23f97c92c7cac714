package graft

import org.apache.spark.sql.SparkSession

/** The start-up path every main shares: the core count, the session, the
  * `--key value` flags and the query selection, plus the one scope that
  * sets session confs for a body. Mains stay separate entry points
  * (callers run them by class name); only their set-up lives here.
  */
object Cli {

  /** `SPARK_GRAFT_CPUS`, or else every core of this machine. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The session a main runs on. An active (or default) session — an
    * embedding caller's, e.g. a spec — is returned untouched: the builder
    * would apply its runtime confs (shuffle partitions!) to it and change
    * the caller's session for everything that runs after. Otherwise a new
    * local one: `local[cpus]`, shuffle partitions = cpus, UTC, UI off,
    * [[graft.catalyst.GraftExtensions]] (both steering rules are no-ops
    * while their conf is unset), log level WARN. */
  def session(): SparkSession =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).getOrElse {
      val spark = SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .withExtensions(new graft.catalyst.GraftExtensions)
        .getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      spark
    }

  /** Run `body` with `confs` set on the session. Every key is restored
    * afterwards, also when a set or `body` throws: a key that was set gets
    * its old value back, a key that was absent is unset (`getOption` would
    * read a registered conf's default as set). */
  def withConfs[A](spark: SparkSession, confs: Seq[(String, String)])(body: => A): A = {
    val set = spark.conf.getAll
    val prev = confs.map { case (k, _) => k -> set.get(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Strict `--key value` pairs over the caller's `known` keys. Every flag
    * takes exactly one value; a lenient pairwise parse would read
    * `--mask --seed 7` as mask = `--seed` and shift every later option, so
    * a malformed pair throws [[IllegalArgumentException]] instead (see
    * [[orUsage]]). So does a key outside `known`: a typo such as `--seed`
    * for `--seeds` must not silently run with the default. */
  def flags(args: Seq[String], known: Set[String]): Map[String, String] =
    args.grouped(2).map {
      case Seq(k, v) if k.startsWith("--") && k.length > 2 && !v.startsWith("--") =>
        if (!known(k.drop(2))) throw new IllegalArgumentException(s"unknown flag: $k")
        k.drop(2) -> v
      case other => throw new IllegalArgumentException(
        s"bad option pair: ${other.mkString(" ")} (every --flag needs a value)")
    }.toMap

  /** Evaluate `parse`; on an [[IllegalArgumentException]] (a bad flag or
    * number) print its message and `usage` and exit 2. */
  def orUsage[A](usage: String)(parse: => A): A =
    try parse catch {
      case e: IllegalArgumentException =>
        System.err.println(s"${e.getMessage}\nusage: $usage")
        sys.exit(2)
    }

  /** The queries to run: the comma-separated names in `list` — by default
    * `SPARK_GRAFT_QUERIES` — with whitespace trimmed and duplicates
    * dropped, or else `default`. A name outside `known` throws
    * [[IllegalArgumentException]] naming it: a typo must not silently run
    * a smaller set. */
  def queries(default: Seq[String], known: collection.Set[String] = SparkEntry.queries.keySet,
              list: Option[String] = sys.env.get("SPARK_GRAFT_QUERIES")): Seq[String] =
    list match {
      case None => default
      case Some(l) =>
        val names = l.split(",").map(_.trim).filter(_.nonEmpty).toSeq.distinct
        val unknown = names.filterNot(known)
        if (unknown.nonEmpty)
          throw new IllegalArgumentException(s"unknown queries: ${unknown.mkString(",")}")
        names
    }
}
