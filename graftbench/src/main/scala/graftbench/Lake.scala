package graftbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** Process and file-system probes the workloads share. */
object Lake {
  /** (result, elapsed ms) of `body`. */
  def timedMs[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
    finally s.close()
  }

  /** Every regular file under `root` with its size, keyed by path. */
  def files(root: Path): Map[String, Long] =
    if (!Files.isDirectory(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).flatMap { p =>
        // a writer may retire a file between listing and stat
        try Some(root.relativize(p).toString -> Files.size(p))
        catch { case _: java.io.IOException => None }
      }.toMap
      finally s.close()
    }

  /** Peak resident set size of this JVM (VmHWM), in MB. */
  def peakRssMb: Double =
    Files.readAllLines(Path.of("/proc/self/status")).asScala
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0 }
      .getOrElse(0.0)
}
