package cdcbench

import java.nio.file.{Files, Paths}

/** Host-cleanliness readings from /proc, so a run disturbed by other
  * work on the machine can be told apart from the run's own artifact.
  */
object Host {

  /** One reading: host jiffies (busy, steal, total), this process's
    * utime+stime jiffies, and the 1-minute load average.
    */
  final case class Sample(busy: Long, steal: Long, total: Long,
                          self: Long, loadavg: Double)

  private def read(p: String): String =
    try Files.readString(Paths.get(p)) catch { case _: Exception => "" }

  def sample(): Sample = {
    val cpu = read("/proc/stat").linesIterator.find(_.startsWith("cpu "))
      .map(_.trim.split("\\s+").drop(1).map(_.toLong).toSeq)
      .getOrElse(Seq.fill(8)(0L))
    // user nice system idle iowait irq softirq steal [guest guest_nice]
    val field = (i: Int) => if (cpu.size > i) cpu(i) else 0L
    val idle = field(3) + field(4)
    val steal = field(7)
    // guest time is already counted inside user/nice.
    val total = (0 to 7).map(field).sum
    val busy = total - idle - steal
    // /proc/self/stat: the command name may hold spaces, so split after ')'.
    val st = read("/proc/self/stat")
    val rest = st.substring(st.lastIndexOf(')') + 2).split(" ")
    // fields 14 and 15 (utime, stime) are 12 and 13 after the ')' cut.
    val self = if (rest.length > 13) rest(11).toLong + rest(12).toLong else 0L
    val load = read("/proc/loadavg").split(" ").headOption
      .flatMap(_.toDoubleOption).getOrElse(0.0)
    Sample(busy, steal, total, self, load)
  }

  /** Peak resident set (VmHWM) of this JVM in MB. */
  def peakRssMb(): Double =
    read("/proc/self/status").linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  /** Cleanliness over [a, b]: foreign CPU share (host busy jiffies not
    * spent by this JVM, over all jiffies), steal share, and load average
    * at both ends.
    */
  def cleanliness(a: Sample, b: Sample): Map[String, Double] = {
    val total = math.max(1L, b.total - a.total).toDouble
    val foreign = math.max(0L, (b.busy - a.busy) - (b.self - a.self))
    Map(
      "foreign_cpu_share" -> foreign / total,
      "self_cpu_share" -> (b.self - a.self) / total,
      "steal_share" -> (b.steal - a.steal) / total,
      "loadavg_start" -> a.loadavg,
      "loadavg_end" -> b.loadavg)
  }
}
