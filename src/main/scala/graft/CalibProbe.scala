package graft

/** Environment-calibration spin — the fixed-iteration multi-threaded
  * xorshift workload graft.Bench times before and after its suite.
  * `main` runs it WITHOUT a Spark session, so a clean-window watcher can
  * poll the host's effective CPU throughput every few minutes for the
  * cost of a bare JVM start (VERDICT r17 #1: six manual full-suite
  * attempts all landed on contended starts; the automated hunt fires the
  * suite only when this probe reads at or under the pin gate).
  *
  * Usage: java -cp <classes>:<scala-library> graft.CalibProbe [threads]
  * Prints ONE line: `calib <seconds>` — compare against BANDS.json's
  * `calib_sec` nominal x 1.1 (Bench's pin-gate rule).
  */
object CalibProbe {
  // sink defeats dead-code elimination of the spin
  @volatile private var sink: Long = 0L

  private def spin(iters: Long): Long = {
    var x = 88172645463325252L; var i = 0L
    while (i < iters) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    x
  }

  /** Wall seconds for `nThreads` parallel fixed spins (400M xorshift
    * steps each). Pure ALU, zero allocation: on an uncontended machine
    * this is a constant for a given CPU model; inflation measures
    * external pressure (SMT siblings, cgroup throttling, freq scaling).
    */
  def calibSec(nThreads: Int): Double = {
    val iters = 400000000L
    sink ^= spin(iters / 8) // JIT warmup outside the timed region
    val ts = (1 to nThreads).map(_ => new Thread(() => {
      sink ^= spin(iters)
    }))
    val t0 = System.nanoTime
    ts.foreach(_.start()); ts.foreach(_.join())
    (System.nanoTime - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val nThreads = if (args.nonEmpty) args(0).toInt else 32
    println(f"calib ${calibSec(nThreads)}%.3f")
  }
}
