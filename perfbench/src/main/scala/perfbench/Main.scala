package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Random

import graft.{Derived, SparkEntry}
import graft.ingest.{DateDim, NetflixParser, StarBuilder}
import graft.io.Sinks
import org.apache.spark.perfbench.Internals
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

/** The benchmark's JVM side: one workload in one Spark session, a
  * closed loop with one op in flight. `perfbench/run.py` generates the
  * inputs, launches this main, and turns the result file into metrics.
  *
  * Arguments are `key=value` pairs:
  *  - `workload`, `seed`, `seconds`, `trace` (0 or 1), `cores`,
  *    `launch_ms` (epoch ms at process launch, for `setup_s`),
  *    `warm` (warm-up passes or loads), `passes` (the fewest passes or
  *    loads of a timed window), `scratch` (per-run temp root),
  *    `out` (result JSON);
  *  - lane workloads: `lanes` (comma list), `data` (table dir),
  *    `oracle` (one parquet of DuckDB output per lane);
  *  - ingest: `corpus` (Netflix-format dir), `split_bytes` (the text
  *    scan's `spark.sql.files.maxPartitionBytes`) and `expect` (comma
  *    list of `name:value` figures the generator wrote).
  *
  * `mode=oracle-sql out=<file>` instead writes every lane's oracle SQL.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    if (opt.get("mode").contains("oracle-sql")) {
      Files.writeString(Paths.get(opt("out")), Json.obj(
        SparkEntry.oracleSql.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.str(v) }))
      return
    }
    val cores = opt("cores")
    val scratch = opt("scratch")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$scratch/spark-local")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val run = new Run(spark, opt)
    val json = try run.execute() finally {
      Derived.clear()
      spark.stop()
    }
    Files.writeString(Paths.get(opt("out")), json)
  }
}

/** One run: warm-up, the untraced timed window, and (with `trace=1`) a
  * traced window with the same ops wrapped in spans and counters. */
final class Run(spark: SparkSession, opt: Map[String, String]) {
  private val workload = opt("workload")
  private val seed = opt("seed").toLong
  private val seconds = opt("seconds").toDouble
  private val tracing = opt("trace") == "1"
  private val minPasses = opt("passes").toInt
  private val scratch = opt("scratch")
  private val tmpRoot = Paths.get(System.getProperty("java.io.tmpdir"))
  private val sink = classOf[HashSink].getName

  private var trace: Option[Trace] = None
  private var nextOp = 0
  private val ops = scala.collection.mutable.ArrayBuffer[String]()
  private val passes = scala.collection.mutable.ArrayBuffer[String]()
  private var extra = Seq.empty[(String, String)]

  def execute(): String = {
    val setup = if (workload == "ingest") ingest() else lanes()
    Json.obj(Seq(
      "workload" -> Json.str(workload),
      "setup_s" -> Json.num(setup),
      "ops" -> ops.mkString("[", ",", "]"),
      "passes" -> passes.mkString("[", ",", "]")) ++ traceFields ++ extra)
  }

  private def traceFields: Seq[(String, String)] = trace.toSeq.flatMap { t =>
    Seq(
      "spans" -> t.spans.map(s => Json.obj(Seq(
        "id" -> s.id.toString, "parent" -> s.parent.toString,
        "op" -> s.op.toString, "name" -> Json.str(s.name),
        "start_ns" -> s.startNs.toString, "end_ns" -> s.endNs.toString)))
        .mkString("[", ",", "]"),
      "streaming_batch_s" ->
        t.streamingBatchSeconds.map(Json.num).mkString("[", ",", "]"))
  }

  private def span[T](name: String)(body: => T): T = trace match {
    case Some(t) => t.span(name)(body)
    case None => body
  }

  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Block-manager storage held now: the storage memory pool (cached,
    * checkpointed and broadcast blocks) plus cached blocks on disk. */
  private def storageBytes(): Long =
    Internals.storageMemoryUsed +
      spark.sparkContext.getRDDStorageInfo.map(_.diskSize).sum

  private def countFiles(root: Path): Long =
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.filter(Files.isRegularFile(_)).count() finally s.close()
    }

  /** Times one op, passing `body` its id. Outside warm-up, [[settle]]
    * runs first, outside the timer. Returns the id, the seconds, the
    * body's value or error, the storage held at the op's end (or
    * sampled inside it, before a cleanup, into `lastStorage`) and, when
    * tracing, its counters. */
  private def timeOp[T](phase: String)(body: Int => T)
      : (Int, Double, Either[Throwable, T], Long, Map[String, Double]) = {
    if (phase != "warm") settle()
    val id = nextOp
    nextOp += 1
    trace.foreach(_.beginOp(id))
    val filesBefore = if (trace.isDefined) countFiles(tmpRoot) else 0L
    val derivedBefore = if (trace.isDefined) Derived.keys else Set.empty[String]
    val fsBytes0 = Trace.fsBytesWritten()
    val gc0 = gcMillis()
    val t0 = System.nanoTime()
    val res = try Right(span("op")(body(id))) catch { case t: Throwable => Left(t) }
    val dt = (System.nanoTime() - t0) / 1e9
    val gcS = (gcMillis() - gc0) / 1000.0
    val storage = lastStorage.getOrElse(storageBytes())
    lastStorage = None
    val counters = trace.map { t =>
      t.endOp()
      val rdds = spark.sparkContext.getRDDStorageInfo.filter(_.numCachedPartitions > 0)
      val keys = Derived.keys
      t.countersOf(id) ++ Map(
        "spark.gc_s" -> gcS,
        "storage.retained_rdds" -> rdds.length.toDouble,
        "storage.retained_bytes" -> rdds.map(r => r.memSize + r.diskSize).sum.toDouble,
        "derived.entries" -> keys.size.toDouble,
        "derived.held_bytes" -> Derived.heldBytes.toDouble,
        "derived.builds" -> (keys -- derivedBefore).size.toDouble,
        "io.files_created" -> (countFiles(tmpRoot) - filesBefore).toDouble,
        "io.output_bytes" -> (Trace.fsBytesWritten() - fsBytes0).toDouble)
    }.getOrElse(Map.empty)
    (id, dt, res, storage, counters)
  }

  /** Collects garbage, then waits until the context cleaner has
    * dropped the blocks of collected frames: until the storage pool has
    * not changed for 30 ms, or one second at most. Storage read at the
    * op's end then holds little left over from earlier ops. */
  private def settle(): Unit = {
    System.gc()
    val deadline = System.nanoTime() + 1000000000L
    var last = Internals.storageMemoryUsed
    var since = System.nanoTime()
    while (System.nanoTime() - since < 30000000L && System.nanoTime() < deadline) {
      Thread.sleep(10)
      val now = Internals.storageMemoryUsed
      if (now != last) { last = now; since = System.nanoTime() }
    }
  }

  /** Repeats the timed window with the listeners installed and every
    * op inside spans. */
  private def tracedWindow(window: String => Unit): Unit = {
    val t = new Trace(spark)
    t.install()
    trace = Some(t)
    t.span("run")(window("traced"))
  }

  /** Storage sampled inside an op, before it releases its blocks. */
  private var lastStorage: Option[Long] = None

  private def opJson(id: Int, phase: String, pass: Int, name: String, s: Double,
      error: Option[String], storage: Long, counters: Map[String, Double],
      fields: Seq[(String, String)]): String =
    Json.obj(Seq(
      "id" -> id.toString, "phase" -> Json.str(phase), "pass" -> pass.toString,
      "name" -> Json.str(name), "s" -> Json.num(s),
      "error" -> error.map(Json.str).getOrElse("null"),
      "storage_bytes" -> storage.toString,
      "counters" -> Json.obj(counters.toSeq.sortBy(_._1).map {
        case (k, v) => k -> Json.num(v) })) ++ fields)

  private def errorText(t: Throwable): String =
    s"${t.getClass.getName}: ${Option(t.getMessage).getOrElse("").take(300)}"

  // ---------------------------------------------------------------- lanes

  private def lanes(): Double = {
    val data = opt("data")
    val names = opt("lanes").split(",").toSeq
    val fns = names.map(n => n -> SparkEntry.queries(n))
    // a long-lived session: bound the shared-frame cache the way the
    // engine's own bench loop does
    Derived.ensureBudget(spark)
    val schemas = scala.collection.mutable.Map[String, StructType]()
    val warm = opt("warm").toInt
    var pass = 0

    def onePass(phase: String): Double = span("pass") {
      val order = new Random(seed * 1000003L + pass).shuffle(fns)
      val t0 = System.nanoTime()
      var busy = 0.0
      order.foreach { case (name, fn) =>
        val (id, s, res, storage, counters) = timeOp(phase) { id =>
          val df = span("lane.build")(fn(spark, data))
          span("lane.execute") {
            df.write.format(sink).mode("overwrite").option("id", s"op$id").save()
          }
          df.schema
        }
        busy += s
        res.foreach(schemas(name) = _)
        val digest = HashSink.take(s"op$id")
        ops += opJson(id, phase, pass, name, s, res.left.toOption.map(errorText),
          storage, counters,
          Seq("digest" -> digest.map(d => Json.str(Run.digestText(d))).getOrElse("null")))
      }
      passes += Json.obj(Seq("phase" -> Json.str(phase), "pass" -> pass.toString,
        "wall_s" -> Json.num((System.nanoTime() - t0) / 1e9), "busy_s" -> Json.num(busy)))
      pass += 1
      busy
    }

    (0 until warm).foreach(_ => onePass("warm"))
    val setup = (System.currentTimeMillis() - opt("launch_ms").toLong) / 1000.0
    def window(phase: String): Unit = {
      var busy = 0.0
      var n = 0
      while (n < minPasses || busy < seconds) { busy += onePass(phase); n += 1 }
    }
    window("timed")
    if (tracing) tracedWindow(window)
    // the DuckDB oracle's rows, cast to each lane's output schema and
    // digested by the same sink: every op's digest must equal it
    extra = Seq("oracle" -> Json.obj(names.map { name =>
      name -> (try {
        val raw = spark.read.parquet(s"${opt("oracle")}/$name.parquet")
        val schema = schemas(name)
        raw.select(schema.fields.toSeq.map(f =>
          raw.col(s"`${f.name}`").cast(f.dataType).as(f.name)): _*)
          .write.format(sink).mode("overwrite").option("id", s"oracle-$name").save()
        HashSink.take(s"oracle-$name").map(d => Json.str(Run.digestText(d))).getOrElse("null")
      } catch { case t: Throwable => Json.str("error: " + errorText(t)) })
    }))
    setup
  }

  // ---------------------------------------------------------------- ingest

  private def ingest(): Double = {
    val corpus = opt("corpus")
    val expect = opt("expect").split(",").map { kv =>
      val Array(k, v) = kv.split(":"); k -> v.toLong }.toMap
    val ratingFiles = (1 to 4).map(i => s"$corpus/combined_data_$i.txt")
    val warm = opt("warm").toInt
    // splits that cut the files inside movie blocks, as the default
    // split size cuts the reference corpus: the parser's carry-in path
    spark.conf.set("spark.sql.files.maxPartitionBytes", opt("split_bytes"))

    def load(phase: String, k: Int): Double = {
      val out = s"$scratch/star/$phase-$k"
      var splits = 0
      var parsed = 0L
      val (id, s, res, storage, counters) = timeOp(phase) { _ =>
        val movieLines = spark.read.text(s"$corpus/movie_titles.csv")
        val ratingLines = spark.read.text(ratingFiles: _*)
        if (trace.isEmpty) {
          val star = StarBuilder.build(spark, movieLines, ratingLines)
          writeStar(out, star.factRatings, star.dimMovie, star.dimCustomer, star.dimDate)
          lastStorage = Some(storageBytes())
          star.cleanup()
        } else {
          splits = ratingLines.rdd.getNumPartitions
          parsed = stagedLoad(out, movieLines, ratingLines)
        }
      }
      val check = res.left.map(errorText).flatMap(_ => checkStar(out, expect))
      val traced = if (trace.isEmpty) Map.empty[String, Double] else {
        val (files, bytes) = walkOutput(out)
        Map("ingest.parse_rows" -> parsed.toDouble,
          "ingest.input_splits" -> splits.toDouble,
          "io.files_written" -> files.toDouble,
          "io.bytes_written" -> bytes.toDouble)
      }
      deleteTree(Paths.get(out))
      ops += opJson(id, phase, k, "load", s, check.left.toOption, storage,
        counters ++ traced,
        Seq("rows" -> expect("fact_rows").toString))
      s
    }

    (0 until warm).foreach(k => load("warm", k))
    val setup = (System.currentTimeMillis() - opt("launch_ms").toLong) / 1000.0
    def window(phase: String): Unit = {
      var busy = 0.0
      var k = 0
      while (k < minPasses || busy < seconds) { busy += load(phase, k); k += 1 }
    }
    window("timed")
    if (tracing) tracedWindow(window)
    setup
  }

  private def writeStar(out: String, fact: DataFrame, movie: DataFrame,
      customer: DataFrame, date: DataFrame): Unit = {
    Sinks.writeParquet(fact, s"$out/fact_ratings")
    Sinks.writeParquet(movie, s"$out/dim_movie")
    Sinks.writeParquet(customer, s"$out/dim_customer")
    Sinks.writeParquet(date, s"$out/dim_date")
  }

  /** The traced load: `StarBuilder.build`'s steps one at a time, each
    * materialized inside its own span. Returns the parsed row count. */
  private def stagedLoad(out: String, movieLines: DataFrame,
      ratingLines: DataFrame): Long = {
    val level = StorageLevel.MEMORY_AND_DISK
    val (ratings, parsed) = span("ingest.parse") {
      val r = NetflixParser.parseCombinedData(ratingLines).persist(level)
      (r, r.count())
    }
    val movie = span("ingest.dim_movie") {
      val m = StarBuilder.dimMovie(NetflixParser.parseMovieTitles(movieLines)).persist(level)
      m.count(); m
    }
    val customer = span("ingest.dim_customer") {
      val c = StarBuilder.dimCustomer(ratings).persist(level)
      c.count(); c
    }
    val date = span("ingest.dim_date") {
      val d = DateDim.build(spark).persist(level)
      d.count(); d
    }
    val fact = span("ingest.fact") {
      val f = StarBuilder.factRatings(ratings, movie, customer).persist(level)
      f.count(); f
    }
    span("io.write")(writeStar(out, fact, movie, customer, date))
    lastStorage = Some(storageBytes())
    Seq(fact, date, customer, movie, ratings).foreach(_.unpersist())
    parsed
  }

  /** Compares a written star with the generator's figures. */
  private def checkStar(out: String, expect: Map[String, Long]): Either[String, Unit] = {
    val fact = spark.read.parquet(s"$out/fact_ratings")
    val movie = spark.read.parquet(s"$out/dim_movie")
    val customer = spark.read.parquet(s"$out/dim_customer")
    val date = spark.read.parquet(s"$out/dim_date")
    val sums = fact.join(movie, "movie_key").join(customer, "customer_key")
      .agg(count(lit(1)),
        sum(col("rating").cast("long")),
        sum(expr("(movie_id * 31L + customer_id % 1009) * rating + date_key % 97")))
      .head()
    val got = Map(
      "fact_rows" -> fact.count(),
      "joined_rows" -> sums.getLong(0),
      "customers" -> customer.count(),
      "movies" -> movie.count(),
      "dates" -> date.count(),
      "rating_sum" -> sums.getLong(1),
      "mix_checksum" -> sums.getLong(2))
    val want = expect + ("joined_rows" -> expect("fact_rows"))
    val bad = got.toSeq.sortBy(_._1).collect {
      case (k, v) if want.get(k).exists(_ != v) => s"$k=$v (expected ${want(k)})"
    }
    if (bad.isEmpty) Right(()) else Left("star mismatch: " + bad.mkString(", "))
  }

  /** Data files and bytes under a written table root. */
  private def walkOutput(out: String): (Long, Long) = {
    val root = Paths.get(out)
    if (!Files.exists(root)) (0L, 0L)
    else {
      val s = Files.walk(root)
      try {
        val files = s.iterator().asScala.filter { p =>
          val n = p.getFileName.toString
          Files.isRegularFile(p) && !n.startsWith(".") && !n.startsWith("_")
        }.toList
        (files.size.toLong, files.map(Files.size).sum)
      } finally s.close()
    }
  }

  private def deleteTree(root: Path): Unit =
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.iterator().asScala.toList.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }
}

object Run {
  def digestText(d: Digest): String = s"${d.rows}:${d.sum}:${d.xor}"
}

/** Minimal JSON writer: the Spark classpath carries no JSON library the
  * benchmark may rely on. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
