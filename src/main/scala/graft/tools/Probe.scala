package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

/** The harness every scale probe runs on: cached parquet input, wall-clock
  * timing, one Map→JSON encoder and one emit step. A probe's output goes to
  * SPARK_GRAFT_PROBE_OUT, default `/tmp/graft_<probe>_probe.json`, so a dev
  * run never overwrites the committed artifacts in the repo root.
  */
object Probe {

  /** Runs per [[bestOf]]: the host is shared and run-to-run wall swings
    * with external load, so a probe reports the minimum, the same
    * discipline graft.Bench uses.
    */
  val Trials = 2

  /** Core-count argument `i` of a probe main, defaulting to the host's cores. */
  def cores(args: Array[String], i: Int): Int =
    args.lift(i).map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)

  /** Materialize a parquet input once: `write(path)` runs only when
    * `path/_SUCCESS` is missing.
    */
  def cached(path: String)(write: String => Unit): String = {
    if (!new java.io.File(path, "_SUCCESS").exists()) write(path)
    path
  }

  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def bestOf(f: => Unit): Double = (0 until Trials).map(_ => timed(f)._2).min

  /** Maps render as objects (in their iteration order), sequences as arrays,
    * strings quoted; a non-finite double, which JSON cannot hold, is `null`.
    */
  def json(v: Any): String = v match {
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case d: Double if d.isNaN || d.isInfinite => "null"
    case other => other.toString
  }

  /** Atomically replace `path` with one JSON line; a failed write is
    * reported, never fatal.
    */
  def write(path: String, line: String): Unit =
    try {
      val tmp = Paths.get(path + ".tmp")
      Files.write(tmp, (line + "\n").getBytes(StandardCharsets.UTF_8))
      Files.move(tmp, Paths.get(path), StandardCopyOption.REPLACE_EXISTING,
        StandardCopyOption.ATOMIC_MOVE)
    } catch { case e: Exception => System.err.println(s"[probe] could not write $path: $e") }

  /** Write the file, then print the same line to stdout. */
  def emit(path: String, line: String): Unit = {
    write(path, line)
    println(line)
  }

  /** Emit probe `name`'s result to its output file and stdout. */
  def emit(name: String, result: collection.Map[String, Any]): Unit =
    emit(sys.env.getOrElse("SPARK_GRAFT_PROBE_OUT", s"/tmp/graft_${name}_probe.json"), json(result))
}
