package graftbench

import java.io.File

/** A benchmark workload: which graft queries it calls, and how it warms
  * up and measures. One client calls them in a closed loop: the next
  * call starts when the previous one has returned. */
trait Workload {
  def queries: Seq[String]
  /** Untimed calls that bring the JVM and the caches to a steady state
    * and write each query's result once for the oracle check. */
  def warmUp(b: Bench): Unit
  /** Timed calls until `deadline` (a `System.nanoTime` stamp); a call or
    * iteration started before the deadline runs to its end. */
  def measure(b: Bench, deadline: Long): Unit
}

/** The flagship report, called back to back. */
final class Repeat(query: String, warmPasses: Int) extends Workload {
  val queries: Seq[String] = Seq(query)

  def warmUp(b: Bench): Unit =
    for (pass <- 0 until warmPasses) b.op(query, "warm", timed = false, dump = pass == warmPasses - 1)

  def measure(b: Bench, deadline: Long): Unit =
    while (System.nanoTime() < deadline) b.op(query, "run")
}

/** Index lifecycle: every iteration builds the persisted indexes from
  * empty storage and an empty catalog, serves them from the catalog,
  * then drops the catalog entries (keeping the files) and calls each
  * query again so that it must re-resolve its index. */
final class IndexLifecycle(val queries: Seq[String], servePasses: Int) extends Workload {

  /** Where graft persists indexes: `SPARK_GRAFT_INDEX_ROOT`, plus the
    * cwd-relative `target/index` that some builds write to regardless.
    * Both lie inside the run's own working directory. */
  private def roots: Seq[File] =
    (sys.env.get("SPARK_GRAFT_INDEX_ROOT").toSeq :+ "target/index").map(new File(_).getAbsoluteFile).distinct

  private def dropCatalog(b: Bench): Unit = {
    b.spark.catalog.clearCache()
    b.spark.catalog.listTables().collect().filterNot(_.isTemporary).foreach { t =>
      b.spark.sql(s"DROP TABLE IF EXISTS `${t.name}`")
    }
  }

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** table directory -> (file path -> (length, mtime)) under every root. */
  private def inventory(): Map[String, Map[String, (Long, Long)]] = {
    def files(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(files) else Seq(f)
    (for {
      root <- roots
      table <- Option(root.listFiles()).toSeq.flatten if table.isDirectory
    } yield table.getPath -> files(table).map(f => f.getPath -> (f.length, f.lastModified)).toMap).toMap
  }

  private def reset(b: Bench): Unit = {
    dropCatalog(b)
    roots.foreach(deleteTree)
  }

  private def iteration(b: Bench, round: Int): Unit = {
    reset(b)
    def phase(name: String): Map[String, Double] = {
      val s = System.nanoTime()
      val times = queries.map { q =>
        val o = b.op(q, name, parent = s"$name#$round")
        q -> (o.t2 - o.t0) / 1e9
      }.toMap
      b.span(name, s, System.nanoTime(), s"iteration#$round", -1, s"$name#$round")
      times
    }
    val built = phase("build")
    val afterBuild = inventory()
    for (_ <- 1 to servePasses) phase("serve")
    dropCatalog(b)
    val resolved = phase("reresolve")
    val afterResolve = inventory()
    val rewritten = afterBuild.count { case (t, fs) => afterResolve.get(t).forall(_ != fs) }
    b.iterations += Iteration(built, resolved,
      afterBuild.values.flatMap(_.values.map(_._1)).sum, afterBuild.values.map(_.size.toLong).sum,
      afterBuild.size, rewritten)
  }

  /** One build from empty, which also writes each result for the oracle check. */
  def warmUp(b: Bench): Unit = {
    reset(b)
    queries.foreach(q => b.op(q, "warm", timed = false, dump = true))
  }

  def measure(b: Bench, deadline: Long): Unit = {
    var round = 0
    while (System.nanoTime() < deadline) {
      iteration(b, round)
      round += 1
    }
  }
}

object Workloads {
  def apply(name: String): Workload = name match {
    // the first call pays JIT and codegen (~24 s), the second still ~40 % more than
    // later ones; a third untimed call would not fit a run's time budget
    case "creator_report" => new Repeat("ig_report_synth", warmPasses = 2)
    // bm25 and IVF resolve through the catalog only, pixel through IndexStore;
    // serving is most of the calls, as it is once an index exists
    case "index_lifecycle" => new IndexLifecycle(
      Seq("ta_bm25_persisted", "sim_ivf_persisted", "mm_pixel_persisted"), servePasses = 3)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}
