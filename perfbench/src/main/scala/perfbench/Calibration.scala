package perfbench

import java.nio.file.{Files, Path}

/** Host calibration taken beside every run, so a contended window is
  * visible in the run record: a fixed single-threaded spin, the same
  * spin on every core at once (effective cores = cores × single / all),
  * and a 32 MiB write + fsync + read-back in the work directory. No
  * metric is computed from these. */
object Calibration {
  final case class Host(singleS: Double, allS: Double, effectiveCores: Double,
                        ioS: Double)

  private val SpinIters = 30000000
  @volatile private var sink = 0L

  private def spin(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < SpinIters) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    sink = x
    (System.nanoTime() - t0) / 1e9
  }

  private def allCores(n: Int): Double = {
    val t0 = System.nanoTime()
    val ts = (0 until n).map { _ => val t = new Thread(() => { spin(); () }); t.start(); t }
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  private def io(dir: Path): Double = {
    val f = dir.resolve("io.probe")
    val t0 = System.nanoTime()
    val buf = new Array[Byte](1 << 20)
    java.util.Arrays.fill(buf, 0x5A.toByte)
    val out = new java.io.FileOutputStream(f.toFile)
    try { (0 until 32).foreach(_ => out.write(buf)); out.getFD.sync() }
    finally out.close()
    val in = new java.io.FileInputStream(f.toFile)
    try { while (in.read(buf) > 0) () } finally in.close()
    Files.delete(f)
    (System.nanoTime() - t0) / 1e9
  }

  def probe(dir: Path): Host = {
    (0 until 3).foreach(_ => spin())
    val n = Runtime.getRuntime.availableProcessors
    val single = spin()
    val all = allCores(n)
    Host(single, all, n * single / all, io(dir))
  }
}
