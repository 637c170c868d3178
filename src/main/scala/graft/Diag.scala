package graft

import org.apache.spark.sql.SparkSession

/** The engine's diagnostic entry point: `runMain graft.Diag <cmd> [args…]`.
  *
  * One session bootstrap ([[session]]), one argument check ([[parse]] /
  * [[check]]) and one table of subcommands ([[commands]]). Each command
  * fixes its own master width (which is also its shuffle width), log
  * level, defaults, output files and exit code. A usage error prints the
  * command's usage (or, for a missing or unknown command, the table) and
  * exits 2; so does a query name that is not in `SparkEntry.queries`.
  * The driver-facing mains [[Verify]] and [[Bench]] keep their own names
  * and build their sessions here too.
  */
object Diag {

  /** One command.
    * @param usage   its usage text, printed on an argument error
    * @param accepts whether it takes these arguments (count and form)
    * @param width   the session's master and shuffle width for these args
    * @param run     the body on a fresh session; returns the exit code
    * @param queries the arguments that name `SparkEntry.queries`
    */
  final case class Cmd(
      name: String,
      usage: String,
      accepts: Seq[String] => Boolean,
      width: Seq[String] => String,
      run: (SparkSession, Seq[String]) => Int,
      queries: Seq[String] => Seq[String] = _ => Nil,
      logLevel: String = "WARN")

  /** `SPARK_GRAFT_CPUS`, or `default` when it is unset. */
  def cpus(default: String): String = sys.env.getOrElse("SPARK_GRAFT_CPUS", default)

  /** The bench-scale fixture dir: `SPARK_GRAFT_SF_DIR`, default sf0.1. */
  def benchSfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** A local session of `width` cores and `width` shuffle partitions
    * with the engine's [[Tuning]] and no UI. */
  def session(width: String, logLevel: String = "WARN"): SparkSession = {
    val spark = Tuning(SparkSession.builder()
      .master(s"local[$width]")
      .config("spark.sql.shuffle.partitions", width)
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  val commands: Seq[Cmd] = Seq(
    Cmd("bench-subset", "runMain graft.Diag bench-subset <query...>",
      _.nonEmpty, _ => "32", (s, a) => { benchSubset(s, a); 0 }, queries = identity),
    Cmd("stream-check", "runMain graft.Diag stream-check [out=STREAM.json]",
      _.length <= 1, _ => "8",
      (s, a) => if (StreamCheck.check(s, a.headOption.getOrElse("STREAM.json"))) 0 else 1),
    Cmd("recall", "runMain graft.Diag recall [sfDir=/root/testdata/sf0.01] [out=RECALL.json]",
      _.length <= 2, _ => "8", (s, a) => {
        Recall.run(s, a.headOption.getOrElse("/root/testdata/sf0.01"),
          a.lift(1).getOrElse("RECALL.json"))
        0
      }),
    Cmd("skew-check", "runMain graft.Diag skew-check [fixtureDir=/tmp/graft_skew] [out=SKEW_r10.json]",
      _.length <= 2, _ => cpus("32"), (s, a) =>
        if (SkewCheck.run(s, a.headOption.getOrElse("/tmp/graft_skew"),
          a.lift(1).getOrElse("SKEW_r10.json"))) 0 else 1),
    Cmd("branch-audit", "runMain graft.Diag branch-audit <sfDir> <outJson> [query...]",
      _.length >= 2, _ => "8", (s, a) => { BranchAudit.run(s, a(0), a(1), a.drop(2).toSet); 0 },
      queries = _.drop(2), logLevel = "ERROR"),
    Cmd("profile-query", "runMain graft.Diag profile-query [query=l2c_shingle_jaccard] [rounds=5]",
      a => a.length <= 2 && a.lift(1).forall(_.toIntOption.nonEmpty), _ => "32",
      (s, a) => {
        ProfileQuery.run(s, a.headOption.getOrElse("l2c_shingle_jaccard"),
          a.lift(1).fold(5)(_.toInt))
        0
      }, queries = _.take(1)),
    // PLANS.md is the local[4] fixture-scale snapshot; the per-query
    // files are the bench-scale, bench-width plan trail for `plans/rN/`
    Cmd("plans", "runMain graft.Diag plans [sfDir=/root/testdata/sf0.001] | <outDir> <suffix> <query...>",
      a => a.length <= 1 || a.length >= 3, a => if (a.length <= 1) "4" else cpus("32"),
      (s, a) => {
        if (a.length <= 1) PlanDump.dump(s, a.headOption.getOrElse("/root/testdata/sf0.001"))
        else PlanDump.snap(s, a(0), a(1), a.drop(2))
        0
      }, queries = a => if (a.length >= 3) a.drop(2) else Nil, logLevel = "ERROR"))

  private def table: String =
    ("usage: runMain graft.Diag <cmd> [args...]" +: commands.map("  " + _.usage))
      .mkString("\n")

  /** The command `args` name with its arguments, or the text to print
    * before exiting 2. */
  def parse(args: Seq[String]): Either[String, (Cmd, Seq[String])] = args match {
    case Seq() => Left(table)
    case name +: rest => commands.find(_.name == name)
      .toRight(s"unknown command: $name\n$table")
      .flatMap(check(_, rest))
  }

  /** `args` checked against `c`'s argument form and query names. */
  def check(c: Cmd, args: Seq[String]): Either[String, (Cmd, Seq[String])] =
    if (!c.accepts(args)) Left(s"usage: ${c.usage}")
    else c.queries(args).filterNot(SparkEntry.queries.contains) match {
      case Seq() => Right((c, args))
      case unknown => Left(s"unknown queries: ${unknown.mkString(", ")}")
    }

  def main(args: Array[String]): Unit = launch(parse(args.toSeq))

  /** Run a checked command on a fresh session and exit with its code,
    * or print the error and exit 2. */
  def launch(parsed: Either[String, (Cmd, Seq[String])]): Unit = parsed match {
    case Left(msg) =>
      System.err.println(msg)
      sys.exit(2)
    case Right((c, args)) =>
      val spark = session(c.width(args), c.logLevel)
      val code = try c.run(spark, args) finally spark.stop()
      if (code != 0) sys.exit(code)
  }

  /** `s` as a JSON string literal: backslash, quote and every control
    * char (< 0x20) escaped — a tab or CR in builder-authored SQL would
    * otherwise make the reader's json.load fail. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Per-query timing in the bench protocol at [[benchSfDir]]: one
    * warmup (first-touch codegen / listing / broadcast build), then
    * `SPARK_GRAFT_BENCH_RUNS` (default 3) cold-cache passes, lower
    * median. */
  private def benchSubset(spark: SparkSession, names: Seq[String]): Unit = {
    val sfDir = benchSfDir
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    for (n <- names) {
      def once(): Double = {
        spark.catalog.clearCache() // cold cache per pass, like Bench proper
        val t0 = System.nanoTime()
        SparkEntry.queries(n)(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      val warm = once()
      val med = Seq.fill(passes)(once()).sorted.apply((passes - 1) / 2)
      println(f"$n%-24s median ${med}%7.2f s  (warmup ${warm}%7.2f)")
    }
  }
}
