package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.zip.CRC32

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.ingest.{KvStore, MuprReader, TriggerMeta}
import graft.ops.KvOps
import graft.text.TextOps

/** The JVM half of the benchmark: runs one workload over the inputs the
  * generator wrote and records raw timings, spans, Spark work and output
  * digests to a JSON file. It computes no metric and checks no output
  * against expectations; run.py does both.
  *
  * Usage: Main <workDir> <workload> <seconds> <trace 0|1> <resultJson>
  *
  * Untraced, each operation composes the layer calls lazily and runs them
  * as Spark would for a user. Traced, operations alternate between that
  * form and a traced form, in which each layer call runs inside a span
  * and its returned frame is forced (persist + count) at the boundary, so
  * the next layer reads the forced frame and the layer's Spark work is
  * attributed to its span.
  */
object Main {
  val Cores = 4
  val PrepPasses = 3
  val DedupK = 36
  val DedupBands = 12
  val Threshold = 0.8

  def main(args: Array[String]): Unit = {
    val Array(workDir, workload, secondsArg, traceArg, resultPath) = args
    val spark = session(workDir)
    val sessionS = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getUptime / 1000.0
    val tracer = if (traceArg == "1") Some(new Tracer(spark.sparkContext)) else None
    val run = new Run(spark, workDir, manifest(workDir), tracer,
      secondsArg.toDouble)
    workload match {
      case "kv_load_verify" => run.kvLoadVerify()
      case "kv_lookup" => run.kvLookup()
      case "near_dup_dedup" => run.nearDupDedup()
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    Files.writeString(Paths.get(resultPath), run.json(sessionS))
    spark.stop()
  }

  /** Same settings as graft.Bench at cpus = 4: AQE on, shuffle partitions
    * = cores, UTC; every file Spark writes stays under the work dir. */
  def session(workDir: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/spark-warehouse")
      .config("spark.checkpoint.dir", s"$workDir/spark-checkpoint")
      .getOrCreate()

  def manifest(workDir: String): Map[String, String] = {
    val p = new java.util.Properties()
    val in = Files.newBufferedReader(Paths.get(workDir, "manifest.properties"))
    try p.load(in) finally in.close()
    import scala.jdk.CollectionConverters._
    p.asScala.toMap
  }

  /** Order-independent digest of unpacked rows: (row count, Σ crc32 of
    * rowKey \u0001 columnName \u0001 packedValue), the generator's form. */
  def digest(rows: Array[Row]): (Long, Long) = {
    var sum = 0L
    val c = new CRC32
    rows.foreach { r =>
      c.reset()
      c.update(Seq(r.getString(0), r.getString(1), r.getString(2))
        .mkString("\u0001").getBytes("UTF-8"))
      sum += c.getValue
    }
    (rows.length.toLong, sum)
  }

  def digestFrame(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(sum(crc32(concat_ws("\u0001",
      col("rowKey"), col("columnName"), col("packedValue")).cast("binary"))),
      lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  def dirBytes(p: Path): (Long, Int) = {
    var bytes = 0L
    var dataFiles = 0
    Files.walk(p).filter(Files.isRegularFile(_)).forEach { f =>
      bytes += Files.size(f)
      if (f.getFileName.toString.endsWith(".parquet")) dataFiles += 1
    }
    (bytes, dataFiles)
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val all = new java.util.ArrayList[Path]()
    Files.walk(p).forEach(all.add(_))
    all.sort(java.util.Comparator.reverseOrder())
    all.forEach(Files.delete(_))
  }
}

/** One operation as measured: its kind, whether it ran traced, its wall,
  * and what the checker needs (JSON fragment). */
final case class Op(kind: String, traced: Boolean, ms: Double, out: String,
                    failed: Boolean = false)

final class Run(spark: SparkSession, workDir: String, props: Map[String, String],
                tracer: Option[Tracer], seconds: Double) {
  import Main._

  val ops = ArrayBuffer.empty[Op]
  val prepMs = ArrayBuffer.empty[Double]
  val extra = ArrayBuffer.empty[String] // further top-level JSON members
  private var storeSeq = 0

  private val keyParts = Seq(col("Lot"), col("Lato_Start_WW"),
    col("Lots_seq_key"), col("Unit_Testing_Seq_Key"))
  private val valueParts = Seq(col("Substructure_ID"), col("Sub_Session_Seq_Num"),
    col("Test_Result_Order_Num"), col("Test_Result_Array_Seq_Num"),
    col("Test_ID"), col("Measurement_Value"),
    col("Active_Inactive_Core_Vector"), col("Pass_Fail_Core_Vector"),
    col("Mask_Vector"))

  // ---------------------------------------------------------- layer calls

  private val forced = ArrayBuffer.empty[DataFrame]

  /** A layer call that returns a frame. Untraced (or `t` empty) it is the
    * lazy frame; traced it runs in a span and is forced at the boundary. */
  private def frame(t: Option[Tracer], name: String, req: Int)
                   (f: => DataFrame): DataFrame = t match {
    case None => f
    case Some(tr) => tr.span(name, req) { s =>
      val p = f.persist()
      forced += p
      s.rows = p.count()
      p
    }
  }

  /** A layer call that runs an action (a write or a collect). */
  private def action[T](t: Option[Tracer], name: String, req: Int)
                       (f: => T)(rows: T => Long = (_: T) => -1L): T =
    t match {
      case None => f
      case Some(tr) => tr.span(name, req) { s => val out = f; s.rows = rows(out); out }
    }

  private def release(): Unit = {
    forced.foreach(_.unpersist(blocking = true))
    forced.clear()
  }

  /** One client request. In a traced run every request gets a root span,
    * so its Spark work is attributed; one whose layers run untraced is
    * named `<name>.plain`. */
  private def request[T](t: Option[Tracer], name: String, req: Int)(f: => T): T =
    try tracer match {
      case None => f
      case Some(tr) =>
        tr.span(if (t.isDefined) name else s"$name.plain", req)(_ => f)
    } finally release()

  /** Run `op` for the run length, alternately untraced and (when tracing)
    * traced; `op` gets the request index and the tracer to use, and
    * returns the measured operations. */
  private def loop(op: (Int, Option[Tracer]) => Seq[Op]): Unit = {
    tracer.foreach(_.drain())
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    // at least one operation of each form, however slow
    val minOps = if (tracer.isDefined) 2 else 1
    var i = 0
    while (System.nanoTime() < deadline || i < minOps) {
      val t = if (tracer.isDefined && i % 2 == 1) tracer else None
      ops ++= op(i, t)
      i += 1
    }
  }

  private def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val out = f
    (out, (System.nanoTime() - t0) / 1e6)
  }

  /** A failing operation counts as failed; the run goes on. */
  private def guarded(kind: String, traced: Boolean)(f: => Seq[Op]): Seq[Op] =
    try f
    catch {
      case NonFatal(e) =>
        System.err.println(s"[perfbench] $kind failed: $e")
        e.printStackTrace()
        Seq(Op(kind, traced, 0.0, "{}", failed = true))
    }

  // ------------------------------------------------------------ KV layers

  private def freshStore(): String = {
    storeSeq += 1
    val p = Paths.get(workDir, "stores", s"s$storeSeq")
    deleteTree(p)
    p.toString
  }

  /** parse → enrich → pack → write one batch into `store`. */
  private def load(t: Option[Tracer], req: Int, dir: String, store: String): Unit = {
    val lines = frame(t, "ingest.parse", req) {
      MuprReader.readClean(spark, s"$dir/*.dat")
        .withColumn("__file", element_at(split(input_file_name(), "/"), -1))
    }
    val enriched = frame(t, "ingest.enrich", req) {
      TriggerMeta.enrich(lines, TriggerMeta.read(spark, s"$dir/trigger.csv"),
        col("__file"))
    }
    val kv = frame(t, "ingest.pack", req) {
      KvStore.pack(enriched, keyParts, col("Test_Name"), valueParts)
    }
    action(t, "ingest.write", req)(KvStore.write(kv, store))()
  }

  private def readKeys(path: String): Seq[(String, String)] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().map { l =>
      val Array(k, q) = l.split("\t", 2)
      (k.replace('|', '\u0000'), q)
    }.toVector finally src.close()
  }

  private def keyFrame(keys: Seq[(String, String)]): DataFrame =
    spark.createDataFrame(keys).toDF("rowKey", "columnName")

  private def get(t: Option[Tracer], req: Int, store: String,
                  keys: Seq[(String, String)]): DataFrame = {
    val hits = frame(t, "ingest.get", req)(
      KvStore.bulkGet(KvStore.read(spark, store), keyFrame(keys)))
    KvStore.unpack(hits).select("rowKey", "columnName", "packedValue")
  }

  private def scan(t: Option[Tracer], req: Int, store: String,
                   prefix: String): DataFrame = {
    val hits = frame(t, "ingest.scan", req)(
      KvOps.prefixScan(KvStore.read(spark, store), "rowKey", prefix))
    KvStore.unpack(hits).select("rowKey", "columnName", "packedValue")
  }

  private def collectUnpacked(t: Option[Tracer], req: Int, df: DataFrame): Array[Row] =
    action(t, "ingest.unpack", req)(df.collect())(_.length.toLong)

  // ------------------------------------------------------------- workloads

  private def batches: Vector[String] =
    Vector.tabulate(props("kv.batches").toInt)(b => props(s"kv.batch.$b"))

  /** Load one batch into a fresh store, then read every written key back
    * with one bulkGet and unpack it. Loading and verifying are timed
    * separately; the digest of the read-back (skipped in set-up) is taken
    * afterwards. */
  private def loadVerify(t: Option[Tracer], req: Int, dir: String,
                         keys: DataFrame, check: Boolean = true): Seq[Op] = {
    val store = freshStore()
    val traced = t.isDefined
    val (_, loadMs) = timed(request(t, "kv.load", req)(load(t, req, dir, store)))
    val (bytes, files) = dirBytes(Paths.get(store))
    val (_, verifyMs) = timed(request(t, "kv.verify", req) {
      val hits = frame(t, "ingest.get", req)(
        KvStore.bulkGet(KvStore.read(spark, store), keys))
      // untraced, the noop sink runs the unpack; traced, forcing does
      val unpacked = frame(t, "ingest.unpack", req)(KvStore.unpack(hits))
      if (t.isEmpty) unpacked.write.format("noop").mode("overwrite").save()
    })
    val (n, sum) = if (!check) (0L, 0L) else digestFrame(KvStore.unpack(
      KvStore.bulkGet(KvStore.read(spark, store), keys)))
    deleteTree(Paths.get(store))
    Seq(Op("load", traced, loadMs,
        s"""{"batch":"$dir","store_bytes":$bytes,"store_files":$files}"""),
      Op("verify", traced, verifyMs, s"""{"batch":"$dir","rows":$n,"crc":$sum}"""))
  }

  def kvLoadVerify(): Unit = {
    val bs = batches
    val keys = bs.map(b => keyFrame(readKeys(s"$b/cells.txt")).cache())
    keys.foreach(_.count())
    for (_ <- 0 until PrepPasses)
      prepMs += timed(loadVerify(None, -1, bs(0), keys(0), check = false))._2
    loop { (i, t) =>
      val b = i % bs.size
      guarded("load", t.isDefined)(loadVerify(t, i, bs(b), keys(b)))
    }
  }

  def kvLookup(): Unit = {
    val dir = props("kv.batch.0")
    val cells = readKeys(s"$dir/cells.txt").toArray
    val reqs = scala.io.Source.fromFile(props("kv.requests"), "UTF-8")
      .getLines().toVector
    /** Request `i` of the stream; spans carry `req` (-1 in set-up). */
    def run(t: Option[Tracer], i: Int, req: Int, store: String): Op = {
      val line = reqs(i % reqs.size)
      val (kind, rows, ms) =
        if (line.startsWith("G ")) {
          val keys = line.substring(2).split(' ').map(j => cells(j.toInt)).toSeq
          val (rows, ms) = timed(request(t, "kv.get", req)(
            collectUnpacked(t, req, get(t, req, store, keys))))
          ("get", rows, ms)
        } else {
          val prefix = line.substring(2).replace('|', '\u0000')
          val (rows, ms) = timed(request(t, "kv.scan", req)(
            collectUnpacked(t, req, scan(t, req, store, prefix))))
          ("scan", rows, ms)
        }
      val (n, s) = digest(rows)
      Op(kind, t.isDefined, ms, s"""{"req":${i % reqs.size},"rows":$n,"crc":$s}""")
    }
    // set-up: build the standing store (kept from the last pass) and warm
    // the lookup path on it with the stream's last pair, one get and one
    // scan
    var store = ""
    for (_ <- 0 until PrepPasses) {
      prepMs += timed {
        if (store.nonEmpty) deleteTree(Paths.get(store))
        store = freshStore()
        load(None, -1, dir, store)
        for (i <- reqs.size - 2 until reqs.size) run(None, i, -1, store)
      }._2
    }
    val (bytes, files) = dirBytes(Paths.get(store))
    extra += s""""store":{"bytes":$bytes,"files":$files}"""
    loop { (i, t) => guarded("lookup", t.isDefined)(Seq(run(t, i, i, store))) }
  }

  /** One dedup of the corpus, as two operations a curation pipeline runs:
    * list the near-duplicate pairs, then resolve them into clusters and
    * keep each cluster's best document. */
  def nearDupDedup(): Unit = {
    // input preparation (not set-up): the generator's JSONL parts become
    // one parquet file each
    val corpus = Paths.get(workDir, "corpus_parquet").toString
    spark.read.schema("id LONG, text STRING").json(props("corpus.dir"))
      .coalesce(props("corpus.files").toInt)
      .write.mode("overwrite").parquet(corpus)
    def pairs(t: Option[Tracer], req: Int): Array[(Long, Long)] =
      request(t, "dedup.pairs", req) {
        action(t, "dedup.minhash", req)(
          Dedup.minhashPairs(spark.read.parquet(corpus), col("id"), col("text"),
            k = DedupK, bands = DedupBands, threshold = Threshold)
            .select("id_a", "id_b").collect()
            .map(r => (r.getLong(0), r.getLong(1))))(_.length.toLong)
      }
    def resolve(t: Option[Tracer], req: Int, found: Array[(Long, Long)]): Array[Long] =
      request(t, "dedup.resolve", req) {
        val docs = spark.read.parquet(corpus)
        val canon = frame(t, "dedup.cluster", req)(
          Dedup.canonicalFromPairs(docs.select(col("id")), col("id"),
            spark.createDataFrame(found.toSeq).toDF("id_a", "id_b")))
        val scoredLazy = docs.join(canon, docs("id") === canon("doc_id"))
          .select(col("id"), col("canonical_id"),
            TextOps.qualityStruct(col("text")).getField("alpha_ratio").as("q"))
        // keepBestPerCluster reads its input twice: persist it, as its
        // doc asks (traced, the forced frame already is)
        val scored = t match {
          case None => scoredLazy.localCheckpoint(true)
          case Some(_) => frame(t, "text.quality", req)(scoredLazy)
        }
        action(t, "dedup.keep_best", req)(
          Dedup.keepBestPerCluster(scored, col("canonical_id"), col("id"), col("q"))
            .select(col("id")).collect().map(_.getLong(0)).sorted)(_.length.toLong)
      }
    def dedup(t: Option[Tracer], req: Int): Seq[Op] = {
      val (found, pairMs) = timed(pairs(t, req))
      val (kept, keepMs) = timed(resolve(t, req, found))
      val traced = t.isDefined
      Seq(Op("dedup", traced, pairMs + keepMs, s"""{"kept":[${kept.mkString(",")}]}"""),
        Op("pairs", traced, pairMs,
          found.map { case (a, b) => s"[$a,$b]" }.mkString("""{"pairs":[""", ",", "]}")))
    }
    for (_ <- 0 until PrepPasses) prepMs += timed(dedup(None, -1))._2
    loop { (i, t) => guarded("dedup", t.isDefined)(dedup(t, i)) }
  }

  // ----------------------------------------------------------------- JSON

  def json(sessionS: Double): String = {
    val sb = new StringBuilder("{")
    sb ++= s""""session_s":$sessionS,"prep_ms":[${prepMs.mkString(",")}],"""
    sb ++= s""""cores":$Cores,"""
    sb ++= ops.map(o =>
      s"""{"kind":"${o.kind}","traced":${o.traced},"ms":${o.ms},"failed":${o.failed},"out":${o.out}}""")
      .mkString("\"ops\":[", ",", "]")
    extra.foreach(e => sb ++= "," ++= e)
    tracer.foreach { tr =>
      tr.drain()
      sb ++= tr.spans.map(s =>
        s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"req":${s.request},""" +
          s""""start":${s.start},"end":${s.end},"rows":${s.rows}}""")
        .mkString(",\"spans\":[", ",", "]")
      sb ++= tr.workBySpan.map { case (id, w) =>
        s""""$id":{"jobs":${w.jobs},"stages":${w.stages},"tasks":${w.tasks},""" +
          s""""run_ms":${w.runMs},"gc_ms":${w.gcMs},""" +
          s""""shuffle_write":${w.shuffleWrite},"spill":${w.spill},""" +
          s""""fetch_wait_ms":${w.fetchWaitMs},"records_read":${w.recordsRead},""" +
          s""""records_written":${w.recordsWritten},""" +
          s""""task_ms":[${w.taskMs.mkString(",")}]}"""
      }.mkString(",\"work\":{", ",", "}")
    }
    sb ++= "}"
    sb.toString
  }
}
