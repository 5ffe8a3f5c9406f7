package graft

import java.io.IOException
import java.net.URI
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.hadoop.fs.permission.FsPermission

/** Test-only fault injection at file creation, under the `fault:`
 *  scheme ([[StrictRenameFileSystem]] semantics, local storage). A
 *  directory armed with [[FaultFileSystem.failUnder]] makes every file
 *  create below it throw — a Spark write into it fails in its tasks;
 *  one armed with [[FaultFileSystem.slowUnder]] makes every create
 *  below it sleep first — a Spark write into it stays running. Local
 *  mode runs tasks in this JVM, so the armed set is plain shared
 *  state. */
class FaultFileSystem extends StrictRenameFileSystem {
  override def getScheme: String = "fault"
  override def getUri: URI = URI.create("fault:///")
  // every create/createNonRecursive/append of the local FS opens here
  override protected def createOutputStreamWithMode(f: Path, append: Boolean,
      permission: FsPermission): java.io.OutputStream = {
    FaultFileSystem.onCreate(f)
    super.createOutputStreamWithMode(f, append, permission)
  }
}

object FaultFileSystem {
  private val failing = ConcurrentHashMap.newKeySet[String]()
  private val slow = new ConcurrentHashMap[String, java.lang.Long]()
  /** Creates that have entered a slow sleep since the last reset. */
  val slowed = new AtomicInteger()

  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.hadoopConfiguration
      .set("fs.fault.impl", classOf[FaultFileSystem].getName)

  def failUnder(dir: String): Unit = { failing.add(key(dir)); () }
  def slowUnder(dir: String, ms: Long): Unit = { slow.put(key(dir), ms); () }
  def reset(): Unit = { failing.clear(); slow.clear(); slowed.set(0) }

  // trailing slash: arming b1 must not arm b10
  private def key(dir: String): String = new Path(dir).toUri.getPath + "/"

  private def onCreate(f: Path): Unit = {
    val p = f.toUri.getPath
    if (failing.asScala.exists(p.startsWith))
      throw new IOException(s"injected fault: create $p")
    slow.asScala.collectFirst { case (d, ms) if p.startsWith(d) => ms }
      .foreach { ms => slowed.incrementAndGet(); Thread.sleep(ms) }
  }
}
