package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.Page
import graft.index.IndexBuilder
import graft.sources.PagesGen

/** State one benchmark run shares across its workloads: the session, the
  * scratch root (reaped at exit), the op/failure counters and the tracer.
  */
final class Ctx(val spark: SparkSession, val work: Path, val state: Path, val seed: Long, val cores: Int,
    val fixtures: String, val sourceDigest: String) {
  var tracer = new Tracer(false)
  /** Set while tracing: task metrics of tagged calls go to it. */
  var listener: GroupMetrics = null
  var attempted = 0L
  var failed = 0L
  /** Output dirs whose `oracle_sql.json` `run.py` checks in DuckDB. */
  val oracleChecks = scala.collection.mutable.ArrayBuffer.empty[String]
  private var dirSeq = 0

  /** Build shape for the benchmark's indexes (stamped in the artifact):
    * two input partitions per core suit its 10^4-10^5-doc corpora.
    */
  val buildCfg = IndexBuilder.BuildConfig(nPartitions = 2 * cores, nGroups = 1, nSlices = 16)
  /** Smaller shape for live micro-batches: one task per core. */
  val segmentCfg = IndexBuilder.BuildConfig(nPartitions = cores, nGroups = 1, nSlices = 4)

  def freshDir(name: String): String = {
    dirSeq += 1
    work.resolve(s"$name-$dirSeq").toString
  }

  def reap(dir: String): Unit =
    if (dir != null) org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))

  /** Run `body` with its Spark jobs tagged `group`, inside a span. */
  def call[T](group: String, span: String, op: Long)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, span, interruptOnCancel = false)
    if (listener != null) listener.called(group)
    try tracer.span(span, op)(body)
    finally sc.clearJobGroup()
  }

  private val t0 = System.nanoTime()
  def log(msg: String): Unit = System.err.println(f"[perfbench ${(System.nanoTime() - t0) / 1e9}%7.2f] $msg")

  /** A correctness gate: counted as an attempted op, failed when false. */
  def check(ok: Boolean, what: => String): Boolean = {
    attempted += 1
    if (!ok) {
      failed += 1
      log(s"check failed: $what")
    }
    ok
  }

  /** Cross-run gate: `value` must equal what an earlier run of the same
    * seed and the same sources recorded under `key` in the state
    * directory (the first such run records it).
    */
  def checkStamp(key: String, value: String): Unit = {
    val f = state.resolve(s"$key-${sourceDigest.take(16)}-seed$seed.txt")
    if (Files.exists(f)) {
      val prev = new String(Files.readAllBytes(f), "UTF-8")
      check(prev == value, s"$key differs from an earlier run of seed $seed on the same sources: $value vs $prev")
    } else Files.write(f, value.getBytes("UTF-8"))
  }

  /** One client operation: counted, and a failure when it throws. */
  def op[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Exception =>
        failed += 1
        log(s"op $what failed: $e")
        None
    }
  }

  /** `n` seeded pages: row ids start at a seed-dependent offset, so each
    * seed gets its own urls and texts from the engine's own generator.
    */
  def pageIds(n: Long, salt: Long): Dataset[java.lang.Long] =
    spark.range(rowOffset(salt), rowOffset(salt) + n, 1, 2 * cores)

  def rowOffset(salt: Long): Long = (Math.floorMod(seed, 10007L) * 16 + salt) * 1000000L

  /** Stage `n` seeded pages as a parquet table and read it back. */
  def stagePages(n: Long, salt: Long): (Dataset[Page], String) = {
    import spark.implicits._
    val dir = freshDir("corpus")
    pageIds(n, salt).map(i => PagesGen.pageFor(i)).write.parquet(dir)
    (spark.read.parquet(dir).as[Page], dir)
  }

  def textBytes(pages: Dataset[Page]): Long =
    pages.select(sum(octet_length(col("text")))).head().getLong(0)

  /** Bytes of data files under `dir` (checksum side files excluded). */
  def dirBytes(dir: String): Long = {
    val s = Files.walk(java.nio.file.Paths.get(dir))
    try s.filter(p => Files.isRegularFile(p) && !p.getFileName.toString.endsWith(".crc"))
      .mapToLong(p => Files.size(p)).sum()
    finally s.close()
  }

  /** Order-independent content hash of an index's posting table. */
  def postingsHash(dir: String): String = {
    val r = IndexBuilder.readPostings(spark, dir)
      .select(xxhash64(col("term"), col("slice"), col("block_id"), col("doc_id_min"),
        col("count"), col("deltas"), col("tfs"), col("dls"), col("poss")).as("h"))
      .agg(sum(col("h").cast("decimal(38,0)")).cast("string"), count(lit(1)))
      .head()
    s"${r.getString(0)}/${r.getLong(1)}"
  }
}

/** Seeded query stream built from the query mix of the frozen
  * `graft.Bench` (its `baseQueries`: 5 OR : 2 AND, one to four terms, from
  * the hottest word `w0` to the injected `rareterm7`). Query i is base
  * query i mod 7 in round i / 7; each round shifts the `w` terms by 7
  * ranks, through the same 40 shifts as that bench's 280-query batch.
  * The seed picks the round the stream starts at, so every 7 consecutive
  * queries hold each base shape once.
  */
final class QueryGen(seed: Long) {
  import QueryGen._
  private var next = Math.floorMod(seed, Rounds.toLong).toInt * Base.length

  def query(): (Seq[String], String) = {
    val (terms, mode) = Base(next % Base.length)
    val shift = (next / Base.length) % Rounds * 7
    next += 1
    (terms.map(t => if (t.startsWith("w")) s"w${(t.drop(1).toInt + shift) % 5000}" else t), mode)
  }
}

object QueryGen {
  /** `graft.Bench`'s `baseQueries`, term for term. */
  val Base: Seq[(Seq[String], String)] = Seq(
    (Seq("w0"), "or"), (Seq("w1", "w2"), "or"), (Seq("w1", "w2"), "and"),
    (Seq("w0", "w4999"), "or"), (Seq("rareterm7"), "or"),
    (Seq("w10", "w20", "w30"), "and"), (Seq("w3", "w7", "w11", "w13"), "or"))
  val Rounds = 40
}
