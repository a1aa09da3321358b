package graft

import org.apache.spark.sql.Row

/** Every registered entry gives the same rows whether its tables read as
  * one partition or above one split. At sf0.001 every table fits one
  * input split ([[Tables.table]] plans it as one partition), so the other
  * specs never run the exchange-bearing plans a lake-scale read takes; an
  * 8k split puts every table above one split and plans them.
  */
class SplitRegimeSpec extends SparkSpec {

  /** A cell as text: arrays, maps and structs element by element, binary
    * as hex, so equal values always print alike.
    */
  private def cell(v: Any): String = v match {
    case null => "null"
    case b: Array[Byte] => b.map("%02x".format(_)).mkString("0x", "", "")
    case r: Row => r.toSeq.map(cell).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${cell(k)}->${cell(x)}" }.sorted.mkString("map(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case x => x.toString
  }

  /** Each entry's rows as sorted text, with the registry fresh before and after. */
  private def allRows(): Map[String, Seq[String]] = {
    SessionCache.clear()
    try SparkEntry.queries.map { case (name, q) =>
      name -> q(spark, sfDir).collect().map(cell).toSeq.sorted
    } finally SessionCache.clear()
  }

  test("every registry entry: the same sorted rows under the session split and an 8k split") {
    val single = allRows()
    val split = withSplit("8k") {
      assert(Tables.documents(spark, sfDir).rdd.getNumPartitions > 1, "8k must split the corpus")
      allRows()
    }
    assert(single.keySet == split.keySet)
    val differ = single.keys.toSeq.sorted.filter(n => single(n) != split(n))
    assert(differ.isEmpty, differ.map { n =>
      s"$n: ${single(n).diff(split(n)).take(3)} vs ${split(n).diff(single(n)).take(3)}"
    }.mkString("; "))
  }
}
