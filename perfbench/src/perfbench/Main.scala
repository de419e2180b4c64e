package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._

final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
    out: Path, work: Path, jvm: Jvm, full: Boolean) {
  def tag: String = s"$workload-trace${if (trace) 1 else 0}-seed$seed"
}

/** One run's verdict, end-to-end metrics (name → value, unit) in print
  * order, per-layer metrics of a traced run, and the rest of the artifact. */
final case class Result(correct: Boolean, attempted: Int, failed: Int,
    endToEnd: Seq[(String, (Double, String))], perLayer: Map[String, Double],
    artifact: collection.mutable.Map[String, Any])

/** `perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *  --out DIR --work DIR [--full 1]`: runs one workload, writes the
  * artifact `<out>/<workload>-trace<t>-seed<n>.json`, prints each metric
  * by name and unit, and ends with the one-line JSON result. */
object Main {
  /** Every per-layer metric with its unit. A traced run reports all of
    * them; a layer its workload does not exercise reads 0, and the
    * artifact lists it under `not_exercised`. */
  val PerLayer: Seq[(String, String)] = Layers.Units ++ Board.LayerUnits

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String): String = kv.getOrElse(k, sys.error(s"missing --$k"))
    val o = Opts(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      Paths.get(need("out")).toAbsolutePath, Paths.get(need("work")).toAbsolutePath,
      new Jvm(System.getProperty("java.class.path"), Paths.get(System.getProperty("java.io.tmpdir"))),
      kv.get("full").contains("1"))
    Files.createDirectories(o.out)
    Files.createDirectories(o.work)
    val r = o.workload match {
      case w if Wire.Shapes.contains(w) => Wire.run(o)
      case "query_board" => Board.run(o)
      case w => sys.error(s"unknown workload '$w' (ingest, dashboard, mixed, query_board)")
    }
    val layers = PerLayer.map { case (k, u) => k -> (r.perLayer.getOrElse(k, 0.0), u) }
    val metrics = if (o.trace) layers else r.endToEnd
    def table(ms: Seq[(String, (Double, String))]) = mutable.LinkedHashMap(ms.map { case (k, (v, u)) =>
      k -> mutable.LinkedHashMap[String, Any]("value" -> v, "unit" -> u) }: _*)
    r.artifact("end_to_end") = table(r.endToEnd)
    if (o.trace) {
      r.artifact("per_layer") = table(layers)
      r.artifact("not_exercised") = PerLayer.map(_._1).filterNot(r.perLayer.contains)
    }
    Files.write(o.out.resolve(s"${o.tag}.json"), (Json.render(r.artifact) + "\n").getBytes("UTF-8"))
    metrics.foreach { case (k, (v, u)) => println(f"metric $k%-34s $v%16.6f $u") }
    println(s"artifact ${o.out.resolve(s"${o.tag}.json")}")
    println(Json.render(mutable.LinkedHashMap[String, Any](
      "correct" -> r.correct, "attempted" -> r.attempted, "failed" -> r.failed, "metrics" -> table(metrics))))
    System.out.flush()
    // Spark's non-daemon threads must not hold the JVM open
    sys.exit(0)
  }
}

/** JSON for the run artifact and the result line, through json4s. */
object Json {
  private implicit val formats: org.json4s.Formats = org.json4s.DefaultFormats
  def render(v: Any): String = org.json4s.jackson.JsonMethods.compact(org.json4s.Extraction.decompose(v))
}

/** Machine-health stamps (record only) and the in-process Spark session. */
object Machine {
  def stamps(): Map[String, Double] = Map(
    "serial_ms" -> graft.tools.MachineProbe.stampMs(),
    "parallel4_ms" -> graft.tools.MachineProbe.stampParMs(4))

  /** The host's CPU time by state (`/proc/stat`), or empty where there is none. */
  def cpuTicks(): Seq[Long] = {
    val f = Paths.get("/proc/stat")
    if (!Files.isReadable(f)) Nil
    else Files.readAllLines(f).asScala.find(_.startsWith("cpu ")).toSeq
      .flatMap(_.trim.split("\\s+").drop(1).take(8).map(_.toLong))
  }

  /** Each CPU state's share of the host's CPU time between two
    * [[cpuTicks]] readings; `steal` is time the hypervisor gave to other
    * guests. For the record only, as the stamps are. */
  def cpuShares(before: Seq[Long], after: Seq[Long]): Map[String, Double] =
    if (before.size < 8 || after.size < 8) Map.empty
    else {
      val d = after.zip(before).map { case (a, b) => (a - b).toDouble }
      val total = math.max(1.0, d.sum)
      Seq("user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal").zip(d)
        .map { case (k, v) => k -> v / total }.toMap
    }

  /** Configured as `HttpApi.main` configures the server's session. */
  def session(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.plans.Engine.install(spark)
    spark
  }
}

/** Child JVMs on this process's class path, with its module opens. */
final class Jvm(classpath: String, tmp: Path) {
  def start(jvmOpts: Seq[String], mainAndArgs: Seq[String], log: Path): Proc = {
    val cmd = Seq(Paths.get(System.getProperty("java.home"), "bin", "java").toString) ++
      Jvm.AddOpens ++ Seq("-XX:-UsePerfData", "-Xmx3g", s"-Djava.io.tmpdir=$tmp",
        s"-Dspark.local.dir=$tmp") ++ jvmOpts ++ Seq("-cp", classpath) ++ mainAndArgs
    val pb = new ProcessBuilder(cmd: _*).redirectError(log.toFile)
    new Proc(pb.start())
  }
}

object Jvm {
  /** The module opens this JVM was started with (run.py sets them). */
  val AddOpens: Seq[String] = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
    .asScala.toSeq.filter(_.startsWith("--add-opens"))

  def freePort(): Int = {
    val s = new java.net.ServerSocket(0, 1, java.net.InetAddress.getLoopbackAddress)
    try s.getLocalPort finally s.close()
  }

  /** A loopback-only JMX endpoint, used to force a full GC and read the heap. */
  def jmxOptions(port: Int): Seq[String] = Seq(
    s"-Dcom.sun.management.jmxremote.port=$port", s"-Dcom.sun.management.jmxremote.rmi.port=$port",
    "-Dcom.sun.management.jmxremote.authenticate=false", "-Dcom.sun.management.jmxremote.ssl=false",
    "-Dcom.sun.management.jmxremote.host=127.0.0.1", "-Djava.rmi.server.hostname=127.0.0.1")

  /** Heap in use after a full GC, the least of three: Spark's context
    * cleaner frees broadcasts and shuffles only once a GC has found them
    * unreachable, so the first reading can still hold them. */
  def liveHeap(mem: java.lang.management.MemoryMXBean): Long =
    (1 to 3).map { i =>
      if (i > 1) Thread.sleep(500)
      mem.gc()
      mem.getHeapMemoryUsage.getUsed
    }.min

  def liveHeapViaJmx(port: Int): Long = {
    val url = new javax.management.remote.JMXServiceURL(s"service:jmx:rmi:///jndi/rmi://127.0.0.1:$port/jmxrmi")
    val c = javax.management.remote.JMXConnectorFactory.connect(url)
    try {
      val mem = java.lang.management.ManagementFactory.newPlatformMXBeanProxy(
        c.getMBeanServerConnection, java.lang.management.ManagementFactory.MEMORY_MXBEAN_NAME,
        classOf[java.lang.management.MemoryMXBean])
      Jvm.liveHeap(mem)
    } finally c.close()
  }
}

/** A started child process: its stdout lines, CPU time, and a stop that
  * waits for the process to end. */
final class Proc(p: Process) {
  private val lines = new LinkedBlockingQueue[String]()
  private val reader = new Thread(() => {
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(p.getInputStream, "UTF-8"))
    Iterator.continually(in.readLine()).takeWhile(_ != null).foreach(lines.put)
  }, "perfbench-child-stdout")
  reader.setDaemon(true)
  reader.start()
  private val hook = new Thread(() => stop())
  Runtime.getRuntime.addShutdownHook(hook)

  /** First group of `regex` in the first stdout line matching it. */
  def awaitLine(regex: String, timeoutS: Int): String = {
    val re = s".*$regex.*".r
    val end = System.nanoTime() + timeoutS * 1000000000L
    while (System.nanoTime() < end) {
      Option(lines.poll(1, TimeUnit.SECONDS)) match {
        case Some(re(g)) => return g
        case Some(_) =>
        case None if !p.isAlive => throw new IllegalStateException(s"child exited with ${p.exitValue()} before '$regex'")
        case None =>
      }
    }
    throw new IllegalStateException(s"child printed no '$regex' within $timeoutS s")
  }

  def cpuNs(): Long = p.toHandle.info().totalCpuDuration().map[Long](_.toNanos).orElse(-1L)

  def stop(): Unit = synchronized {
    if (p.isAlive) {
      p.destroy()
      if (!p.waitFor(60, TimeUnit.SECONDS)) { p.destroyForcibly(); p.waitFor() }
    }
    reader.join(10000)
    try Runtime.getRuntime.removeShutdownHook(hook) catch { case _: IllegalStateException => () }
  }
}
