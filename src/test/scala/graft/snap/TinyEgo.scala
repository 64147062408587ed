package graft.snap

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Handwritten ego networks (id 5) in the five SNAP formats, so a spec can
  * run the graph pipeline without the reference data. */
object TinyEgo {

  /** Writes ego 5 into a fresh temp dir and returns the dir. */
  def write(edges: Seq[String], featnames: Seq[String], feat: Seq[String],
      egofeat: String, circles: Seq[String]): String = {
    val dir = Files.createTempDirectory("graft-snap").toString
    def put(ext: String, lines: Seq[String]): Unit =
      Files.write(Paths.get(s"$dir/5.$ext"), lines.asJava)
    put("edges", edges)
    put("featnames", featnames)
    put("feat", feat)
    put("egofeat", Seq(egofeat))
    put("circles", circles)
    dir
  }

  /** Runs `f` on the graphs loaded from `dir`, then releases their caches
    * and deletes `dir`. */
  def using[A](spark: SparkSession, dir: String)(f: EgoGraphs => A): A =
    try {
      val g = EgoGraphs.load(spark, dir)
      try f(g) finally Seq(g.edges, g.friends, g.vertices).foreach(_.unpersist())
    } finally graft.TmpFiles.deleteRecursively(dir)
}
