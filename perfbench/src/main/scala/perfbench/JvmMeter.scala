package perfbench

import java.io.{File, IOException}
import java.lang.management.ManagementFactory
import java.nio.file.Files

import org.apache.spark.metrics.source.CodegenMetrics

/** CPU time and code generation of this JVM, read before and after a
  * round.
  *
  * CPU time, unlike wall time, leaves out the time the hypervisor gives
  * this guest's cores to other guests (the kernel subtracts steal from
  * every thread's clock), so it does not grow when the host is busy. The
  * JIT compiler's threads are counted apart: a short-lived JVM spends
  * 1–3 s of compiler time per wiki round for dozens of rounds after a
  * cold start, and when that lands varies from run to run. */
object JvmMeter {
  final case class Reading(processS: Double, jitS: Double, codegen: Long) {
    def -(o: Reading): Reading =
      Reading(processS - o.processS, jitS - o.jitS, codegen - o.codegen)

    /** CPU of every thread but the JIT compiler's: the program, Spark,
      * the garbage collector and the kernel work they ask for. */
    def programS: Double = processS - jitS
  }

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def read(): Reading = Reading(os.getProcessCpuTime / 1e9, jitS(),
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount)

  /** CPU seconds of the JIT compiler threads so far: user plus system
    * ticks (1/100 s) from the kernel's per-thread counters of this
    * process. HotSpot hides these threads from ThreadMXBean. run.py
    * fixes their number, so none exits and takes its time with it. */
  private def jitS(): Double =
    Option(new File("/proc/self/task").listFiles()).toSeq.flatten.map { t =>
      try {
        val comm = new String(Files.readAllBytes(new File(t, "comm").toPath)).trim
        if (!comm.contains("CompilerThre")) 0L
        else {
          val stat = new String(Files.readAllBytes(new File(t, "stat").toPath))
          // fields after "pid (comm) ": state is field 3, utime 14, stime 15
          val f = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
          f(11).toLong + f(12).toLong
        }
      } catch { case _: IOException => 0L } // a thread that has just ended
    }.sum / 100.0
}
