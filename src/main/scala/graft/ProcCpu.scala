package graft

/** Shared /proc CPU accounting for the measurement mains (Bench,
  * RunOne): total machine busy jiffies minus this JVM's own CPU =
  * core-seconds OTHER processes burned while a window ran. One
  * implementation so the adjudication tool and the graded bench can
  * never disagree on what "foreign CPU" means — RunOne's private copy
  * used to omit the `steal` field, which on a co-tenant VM is exactly
  * the contamination this instrument exists to catch.
  */
object ProcCpu {

  /** Busy jiffies across the whole machine (user + nice + system +
    * irq + softirq + steal; idle/iowait excluded). -1 when /proc is
    * unreadable (non-Linux dev boxes) — callers must gate on >= 0.
    */
  def totalBusyJiffies(): Long =
    try {
      val l = java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get("/proc/stat")).get(0).trim.split("\\s+")
      // fields: user nice system idle iowait irq softirq steal
      Seq(1, 2, 3, 6, 7, 8).map(i => if (i < l.length) l(i).toLong else 0L).sum
    } catch { case _: Throwable => -1L }

  /** This JVM's own utime+stime jiffies (fields 14/15 of
    * /proc/self/stat, counted after the parenthesized comm).
    */
  def selfJiffies(): Long =
    try {
      val s = java.nio.file.Files.readString(
        java.nio.file.Paths.get("/proc/self/stat"))
      val rest = s.substring(s.lastIndexOf(')') + 2).split("\\s+")
      rest(11).toLong + rest(12).toLong
    } catch { case _: Throwable => -1L }

  /** A window's start: machine busy and own jiffies. */
  final case class Snapshot(busy: Long, self: Long)

  def snapshot(): Snapshot = Snapshot(totalBusyJiffies(), selfJiffies())

  /** Core-seconds OTHER processes burned since `s0`; -1 when /proc is
    * unreadable. A measured window never reads below 0: the two /proc
    * files tick separately, so an idle machine can show a few jiffies
    * more for this JVM than for the whole machine.
    */
  def foreignCoreSecs(s0: Snapshot): Double = {
    val s1 = snapshot()
    if (s0.busy < 0 || s0.self < 0 || s1.busy < 0 || s1.self < 0) -1.0
    else math.max(0L, (s1.busy - s0.busy) - (s1.self - s0.self)) / 100.0 // USER_HZ
  }
}
