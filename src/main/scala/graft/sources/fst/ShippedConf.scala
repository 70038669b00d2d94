package graft.sources.fst

import org.apache.hadoop.conf.Configuration
import scala.jdk.CollectionConverters._

/** A Hadoop conf as FST read and write tasks receive it: only its
  * difference from a fixed base ([[ShippedConf.base]]), rebuilt on the
  * task side over that JVM's copy of the base.
  *
  * A whole session conf in Spark's `SerializableConfiguration` writes
  * each of its ~1,100 entries as its own gzip'd string, and every task
  * reads them all back; a task-side `new Configuration()` instead
  * re-parses Hadoop's XML and drops the session's settings. The
  * difference from the base is a few KB, and rebuilding the conf from
  * it parses nothing (DESIGN.md "One shipped Hadoop conf for FST
  * tasks").
  *
  * `set` holds the keys the conf sets or changes against the base, as
  * key/value pairs; `removed` holds the base keys the conf lacks.
  */
final class ShippedConf private (set: Array[String], removed: Array[String])
    extends Serializable {

  /** The shipped conf, rebuilt once per deserialized copy. Like a conf
    * built on the task's thread, it loads classes (`fs.<scheme>.impl`)
    * through that thread's context class loader.
    */
  @transient lazy val value: Configuration = {
    val c = new Configuration(ShippedConf.base)
    Option(Thread.currentThread.getContextClassLoader)
      .foreach(c.setClassLoader)
    removed.foreach(c.unset)
    var i = 0
    while (i < set.length) { c.set(set(i), set(i + 1)); i += 2 }
    c
  }
}

object ShippedConf {

  /** The default resources bundled in Hadoop's own jars, identical in
    * every JVM of the application. Not `new Configuration()`: the site
    * files it also reads may differ between driver and executors, and a
    * base that differed would let an executor's `core-site.xml`
    * override the driver's values. Not `core-default.xml` alone either:
    * a Spark session's conf also holds the MapReduce, YARN and HDFS
    * defaults (~730 entries), which would then all ship. A resource
    * missing from the classpath is skipped in every JVM alike. Built
    * once per JVM and never changed; only copies of it are handed out.
    */
  private lazy val base: Configuration = {
    val c = new Configuration(false)
    Seq("core-default.xml", "hdfs-default.xml", "hdfs-rbf-default.xml",
      "mapred-default.xml", "yarn-default.xml").foreach(c.addResource)
    c.size() // parse now, once, not under the first copy's lock
    c
  }

  private lazy val baseEntries: Map[String, String] = entries(base)

  private def entries(conf: Configuration): Map[String, String] =
    conf.iterator().asScala.map(e => e.getKey -> e.getValue).toMap

  /** `conf` as its difference from the base. */
  def apply(conf: Configuration): ShippedConf = {
    val all = entries(conf)
    val set = all.iterator
      .filter { case (k, v) => !baseEntries.get(k).contains(v) }
      .flatMap { case (k, v) => Iterator(k, v) }.toArray
    new ShippedConf(set, baseEntries.keys.filterNot(all.contains).toArray)
  }
}
