package graft.catalyst

import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Literal

/** Per-query learned-hint registry — the piece that makes steering
  * per-QUERY rather than per-session, mirroring the reference's workload
  * matrix rows (each query file gets its own hint choice,
  * `/root/reference/src/strategies/limeqo.py:71-100`).
  *
  * A query is identified by a literal-insensitive fingerprint of its
  * ANALYZED plan: same query template with different constants → same row
  * of the steering matrix (the reference keys rows by SQL-file sha1;
  * template fingerprinting is the engine equivalent that also unifies
  * parameterized re-executions). [[SteeringLoop.steer]] populates the
  * registry with its recommendation when asked to learn; [[run]] replays
  * any future execution of that template under its learned strategy by
  * setting the session steering conf that [[HintSteeringRule]] enforces.
  *
  * A learned hint is the FULL steering config — join strategy plus any
  * second-dimension session confs ([[SteeringLoop.crossed]]: AQE toggle,
  * shuffle-partition tier) — so a `merge+p64` recommendation replays as
  * `merge` AND 64 shuffle partitions, not just the join hint.
  */
object Steered {

  /** One learned steering decision. */
  final case class LearnedHint(strategy: String, confs: Map[String, String] = Map.empty)

  private val learned = TrieMap.empty[String, LearnedHint]

  /** Literal-insensitive md5 fingerprint of the analyzed plan (exprIds
    * normalized by canonicalization, constants nulled out). */
  def fingerprint(df: DataFrame): String = {
    val norm = df.queryExecution.analyzed.canonicalized.transformAllExpressions {
      case l: Literal => Literal.create(null, l.dataType)
    }
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(norm.toString.getBytes(UTF_8)).map("%02x".format(_)).mkString
  }

  def learn(df: DataFrame, strategy: String, confs: Map[String, String] = Map.empty): Unit =
    learned.put(fingerprint(df), LearnedHint(strategy, confs))

  def hintFor(df: DataFrame): Option[LearnedHint] = learned.get(fingerprint(df))

  /** Drop a template's learned hint (the demotion step of hint-staleness
    * revalidation). Returns true iff a hint was present. */
  def unlearn(df: DataFrame): Boolean = learned.remove(fingerprint(df)).isDefined

  def clear(): Unit = learned.clear()

  /** Hint-staleness revalidation for ONE hinted query (round-15 verdict
    * task 5): a hint is validated at ADOPTION time, but data and code
    * move underneath it — the exact staleness the reference's offline
    * loop exists to manage. Re-measure the query min-of-`reps` under the
    * session default and under its stored hint on the CURRENT data; the
    * hint is kept only while it still beats the default by the margin
    * (default 5 % — adoption demanded 15 %, so a kept hint may sit in
    * the hysteresis band where it neither re-qualifies nor regresses),
    * and DEMOTED (unlearned) otherwise. Returns (defaultSec, hintedSec,
    * kept) — None when the query has no stored hint.
    *
    * `df` is a frame the caller has already built; its hint is the one
    * looked up and demoted. `build` makes the query's frame anew for each
    * timed arm, `action(build())` against `run(build())(action)`, so a
    * build that runs eager jobs is charged to both arms, as a bank of the
    * same query charges it. An arm that throws demotes the hint (it has
    * not shown a win) and the throw propagates.
    *
    * `timer` is the arm-cost seam: production uses wall-clock (the
    * default); specs inject deterministic per-arm costs so the
    * keep/demote margin is never a race against host stall waves. */
  def revalidateOne(df: DataFrame, build: () => DataFrame, reps: Int = 2,
                    margin: Double = 0.95, timer: (() => Unit) => Double = wallClockTimer)
                   (action: DataFrame => Unit): Option[(Double, Double, Boolean)] =
    hintFor(df).map { _ =>
      def timed(f: => Unit): Double = timer(() => f)
      val pairs = try (1 to math.max(1, reps)).map { _ =>
        (timed(action(build())), timed(run(build())(action))) // alternated arms
      } catch { case e: Throwable => unlearn(df); throw e }
      val d = pairs.map(_._1).min
      val t = pairs.map(_._2).min
      val keep = t < margin * d
      if (!keep) unlearn(df)
      (d, t, keep)
    }

  private[graft] def wallClockTimer(f: () => Unit): Double = {
    val t0 = System.nanoTime(); f(); (System.nanoTime() - t0) / 1e9
  }

  /** Persist the registry as one JSON object
    * `{fingerprint: {"strategy": s, "confs": {k: v}}}` — learned hints
    * survive across sessions/deploys (the reference's equivalent artifact
    * is the per-round trace JSON; ours is the final decision table). */
  def save(path: java.nio.file.Path): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.createObjectNode()
    learned.toSeq.sortBy(_._1).foreach { case (fp, h) =>
      val entry = root.putObject(fp)
      entry.put("strategy", h.strategy)
      val confs = entry.putObject("confs")
      h.confs.toSeq.sortBy(_._1).foreach { case (k, v) => confs.put(k, v) }
    }
    Option(path.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.writeString(path,
      mapper.writerWithDefaultPrettyPrinter().writeValueAsString(root))
  }

  /** Load (merge) a registry saved by [[save]]. Also reads the legacy flat
    * `{fingerprint: "strategy"}` format (pre-2-D registries). */
  def load(path: java.nio.file.Path): Int = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(java.nio.file.Files.readString(path))
    var n = 0
    root.fields().asScala.foreach { e =>
      val v = e.getValue
      val hint =
        if (v.isTextual) LearnedHint(v.asText())
        else LearnedHint(
          v.path("strategy").asText(""),
          Option(v.get("confs")).map(_.fields().asScala
            .map(c => c.getKey -> c.getValue.asText()).toMap).getOrElse(Map.empty))
      learned.put(e.getKey, hint)
      n += 1
    }
    n
  }

  // --- versioned hint store (the ModelStore pattern applied to the
  // decision table): each save lands append-only at `<root>/v=<N>.json`
  // and an atomic sidecar names the LATEST version — so a bench or a
  // deployment can PIN a hints version while a newer steering run
  // publishes the next, and an audit can diff two versions ---

  private def hintsSidecar(root: java.nio.file.Path): java.nio.file.Path =
    root.resolveSibling(root.getFileName.toString + ".hints.json")

  def latestVersion(root: java.nio.file.Path): Option[Long] = {
    val sc = hintsSidecar(root)
    if (!java.nio.file.Files.exists(sc)) return None
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    Some(mapper.readTree(java.nio.file.Files.readString(sc)).path("version").asLong())
  }

  /** Persist the current registry as the next hints version and promote
    * the sidecar (write-then-atomic-rename). Returns the version.
    *
    * The version slot is claimed with CREATE_NEW (round-15 ADVICE: the
    * old read-then-write let two concurrent publishers both compute
    * N+1 and the second silently truncate the first's file — violating
    * the append-only guarantee). Now a losing publisher just advances to
    * the next free number; every published version file survives, so a
    * pinned `v=N.json` can never change under a reader. The sidecar
    * promotion stays last-writer-wins (it only names A latest version —
    * both are valid), but a publisher never regresses it below a version
    * it can see. */
  def saveVersioned(root: java.nio.file.Path): Long = {
    java.nio.file.Files.createDirectories(root)
    var next = latestVersion(root).getOrElse(0L) + 1
    var claimed = false
    while (!claimed) {
      try {
        java.nio.file.Files.writeString(root.resolve(s"v=$next.json"), "",
          java.nio.file.StandardOpenOption.CREATE_NEW)
        claimed = true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => next += 1
      }
    }
    save(root.resolve(s"v=$next.json"))
    if (latestVersion(root).forall(_ < next)) {
      val tmp = root.resolveSibling(root.getFileName.toString + ".hints.json.tmp")
      java.nio.file.Files.writeString(tmp,
        s"""{"version":$next,"hints":${learned.size}}""")
      java.nio.file.Files.move(tmp, hintsSidecar(root),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    next
  }

  /** Load (merge) a pinned hints version; [[loadLatestVersion]] follows
    * the sidecar. Returns the number of hints read. */
  def loadVersion(root: java.nio.file.Path, version: Long): Int =
    load(root.resolve(s"v=$version.json"))

  def loadLatestVersion(root: java.nio.file.Path): Int =
    latestVersion(root) match {
      case Some(v) => loadVersion(root, v)
      case None => 0
    }

  /** Execute `action` on `df` under its learned config (no-op for unknown
    * templates). The steering conf is session-scoped, so learned hints for
    * concurrently-running distinct templates should use separate sessions
    * (`spark.newSession()` shares the registry, not the conf). */
  def run[T](df: DataFrame)(action: DataFrame => T): T = {
    val spark = df.sparkSession
    hintFor(df) match {
      case None => action(df)
      case Some(hint) =>
        HintSteeringRule.withSteering(spark, hint.strategy, hint.confs) {
          // re-plan under the hint: a Dataset memoizes its QueryExecution
          // on first use, so a df whose plan was already forced
          // (count/explain) would silently keep the unhinted plan; the
          // no-op projection wraps the same logical plan in a fresh Dataset
          // that plans now, with the steering conf in effect
          action(df.select(org.apache.spark.sql.functions.col("*")))
        }
    }
  }
}
