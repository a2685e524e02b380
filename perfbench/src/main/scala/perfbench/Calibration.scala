package perfbench

/** A fixed piece of CPU and memory work that runs no engine or Spark code.
  * Timed at the start of a run, before the Spark session exists, at its
  * end, after the session has stopped, and a few times in between, when
  * the engine has been idle for a moment, it measures how fast the machine
  * ran during the run: on a shared host, CPU steal and busy neighbours
  * slow it down much as they slow the operations around it. The
  * end-to-end times are scaled by [[RefS]] / (the run's median
  * calibration), so they read as seconds on the machine at its reference
  * speed, and a run on a slowed host does not read as a slower program.
  *
  * A Spark operation has a serial part (the Spark driver) and a parallel
  * part (tasks on every core), and a busy host slows the two differently,
  * so one calibration is the geometric mean of the kernel's time on one
  * thread and on every core at once. */
object Calibration {
  private val Elems = 1 << 15
  private val Sorts = 4
  @volatile private var sink = 0L

  /** A typical median of the calibration on the 4-core virtual machine the
    * benchmark was tuned on (its runs there read 0.010 to 0.022 s). */
  val RefS = 0.0145

  /** Calibrations taken at each end of a run. */
  val Reps = 25

  /** Calibrations taken at a point inside the run, and how long the engine
    * has been idle before them (background compilation and clean-up of the
    * last operation finish first). */
  val MidReps = 5
  val MidPauseMs = 100L

  /** Fills and sorts a fixed pseudo-random array several times. */
  private def kernel(seed: Long): Unit = {
    val a = new Array[Long](Elems)
    var acc = 0L
    var r = 0
    while (r < Sorts) {
      var x = seed + r
      var i = 0
      while (i < Elems) {
        x = x * 6364136223846793005L + 1442695040888963407L
        a(i) = x >>> 1
        i += 1
      }
      java.util.Arrays.sort(a)
      acc += a(Elems / 2)
      r += 1
    }
    sink += acc
  }

  private def single(): Double = {
    val t0 = System.nanoTime()
    kernel(1L)
    (System.nanoTime() - t0) / 1e9
  }

  private def parallel(threads: Int): Double = {
    val ts = (0 until threads).map(i => new Thread(() => kernel(i + 1L)))
    val t0 = System.nanoTime()
    ts.foreach(_.start())
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  /** One calibration, in seconds. */
  def measure(cores: Int): Double = math.sqrt(single() * parallel(cores))

  /** [[Reps]] calibrations, in seconds. */
  def run(cores: Int): Seq[Double] = Seq.fill(Reps)(measure(cores))

  /** [[MidReps]] calibrations inside the run, after a pause. */
  def mid(cores: Int): Seq[Double] = {
    Thread.sleep(MidPauseMs)
    Seq.fill(MidReps)(measure(cores))
  }

  /** Compiles the kernel before anything is timed with it. */
  def warmUp(cores: Int): Unit = (1 to 20).foreach(_ => measure(cores))
}
