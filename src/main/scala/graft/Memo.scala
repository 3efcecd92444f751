package graft

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** The one per-corpus memo store: every artifact graft builds once per
  * corpus and serves to many queries (a trained model, a built index
  * frame, a persisted table) is keyed, filled and freed here.
  *
  * The rule:
  *  - KEY: every entry is keyed by (session, name, sf-dir). Sessions
  *    are held weakly, so one session never serves another's entry
  *    (a frame entry refers to its session, so it stays until reset).
  *  - FILL: the fill runs outside the store's lock, so a fill may read
  *    another memo. A fill that throws leaves no entry and no dir.
  *  - FREE: [[reset]] drops every entry, frees every frame through
  *    [[Exec.free]] and deletes every dir the store created.
  */
object Memo {

  private final case class OwnedDir(path: Path)

  private val store =
    new java.util.WeakHashMap[SparkSession, mutable.Map[(String, String), Any]]()

  /** A frame that outlives its query (an eager cut or a filled cache). */
  def frame(s: SparkSession, name: String, dir: String)(fill: => DataFrame): DataFrame =
    get(s, name, dir)(fill)

  /** A driver-side value (a trained model). */
  def model[T](s: SparkSession, name: String, dir: String)(fill: => T): T =
    get(s, name, dir)(fill)

  /** A temp dir named `graft_<name>*` that the store creates and owns;
    * `fill` writes the artifact under it.
    */
  def dir(s: SparkSession, name: String, dir: String)(fill: String => Unit): String =
    get(s, name, dir) {
      val out = Files.createTempDirectory(s"graft_$name")
      try fill(out.toString) catch { case e: Throwable => deleteTree(out); throw e }
      OwnedDir(out)
    }.path.toString

  /** Drop every entry: frames freed, owned dirs deleted. */
  def reset(): Unit =
    store.synchronized {
      val all = store.values.asScala.toList
      store.clear()
      all
    }.foreach(_.values.foreach(release))

  private def get[T](s: SparkSession, name: String, dir: String)(fill: => T): T = {
    val key = (name, dir)
    store.synchronized(Option(store.get(s)).flatMap(_.get(key))).getOrElse {
      val v = fill
      val won = store.synchronized {
        val m = store.computeIfAbsent(s, _ => mutable.Map.empty)
        m.getOrElseUpdate(key, v)
      }
      // a concurrent fill of the same key landed first: serve it
      if (won.asInstanceOf[AnyRef] ne v.asInstanceOf[AnyRef]) release(v)
      won
    }.asInstanceOf[T]
  }

  private def release(v: Any): Unit = v match {
    case df: Dataset[_] => Exec.free(df.toDF())
    case OwnedDir(p) => deleteTree(p)
    case _ => ()
  }

  private def deleteTree(p: Path): Unit =
    try {
      val w = Files.walk(p)
      val all = try w.iterator.asScala.toList finally w.close()
      all.reverse.foreach(Files.deleteIfExists(_))
    } catch { case NonFatal(_) => () }
}
