package graft.operators

import graft.functions.{JValue, Snowflake, Ulid}
import graft.functions.JValue._

/** The reference's three JSON flatteners re-implemented as pure Scala
  * (behavioral spec: /root/reference/pkg/api/flattener.go). They run
  * per input document, so on Spark they distribute as a flatMap over a
  * Dataset of JSON strings — no driver-side loop at scale.
  *
  * Output is (tableName, rowObject) pairs, exactly like the
  * reference's `[]JSONData`.
  */
object Flatten {

  final case class JsonRow(table: String, row: JObj) {
    def rendered: String = JValue.render(row)
  }

  private def joinPath(path: Seq[String]): String = path.mkString("_")

  // ---- horizontal (flattener.go:145-158) ---------------------------
  // One row; nested keys joined with "_", array elements indexed:
  // {"a":{"b":1}} → {"a_b":1};  {"xs":[7,8]} → {"xs_0":7,"xs_1":8}.
  def horizontal(table: String, json: String): Seq[JsonRow] = {
    val root = JValue.parseObject(json)
    val out = Vector.newBuilder[(String, JValue)]
    def walk(v: JValue, path: Vector[String]): Unit = v match {
      case JObj(fields) if fields.nonEmpty =>
        fields.foreach { case (k, fv) => walk(fv, path :+ k) }
      case JArr(items) if items.nonEmpty =>
        items.zipWithIndex.foreach { case (it, i) => walk(it, path :+ i.toString) }
      case JObj(_) | JArr(_) => // empty containers flatten away
      case leaf => out += joinPath(path) -> leaf
    }
    root.fields.foreach { case (k, v) => walk(v, Vector(k)) }
    Seq(JsonRow(table, JObj(out.result())))
  }

  // ---- vertical (flattener.go:24-143) ------------------------------
  // Arrays explode into rows; sibling arrays cross-product; each
  // exploded element records its index in __order_<path>; all rows of
  // one document share a ___document_id ULID.
  def vertical(table: String, json: String): Seq[JsonRow] =
    vertical(table, json, Ulid.make())

  def vertical(table: String, json: String, documentId: String): Seq[JsonRow] = {
    val root = JValue.parseObject(json)
    val withId = root.get("___document_id") match {
      case Some(_) => root
      case None    => JObj(root.fields :+ ("___document_id" -> JStr(documentId)))
    }
    flattenVertical(withId, Vector.empty).map(f => JsonRow(table, JObj(f)))
  }

  private type FlatRow = Vector[(String, JValue)]

  private def mergeRows(lhs: FlatRow, rhs: FlatRow): FlatRow = {
    val overridden = rhs.map(_._1).toSet
    lhs.filterNot(kv => overridden.contains(kv._1)) ++ rhs
  }

  private def crossProduct(branches: Seq[Seq[FlatRow]]): Seq[FlatRow] =
    branches.foldLeft(Seq(Vector.empty[(String, JValue)])) { (acc, branch) =>
      for (l <- acc; r <- branch) yield mergeRows(l, r)
    }

  private def flattenVertical(v: JValue, path: Vector[String]): Seq[FlatRow] = v match {
    case JArr(items) if items.nonEmpty =>
      // directly-nested arrays reuse the same __order_ key; the outer
      // index wins, as in the reference's map assignment (flattener.go:79)
      val orderKey = s"__order_${joinPath(path)}"
      items.zipWithIndex.flatMap { case (item, i) =>
        flattenVertical(item, path).map(row =>
          row.filterNot(_._1 == orderKey) :+ (orderKey -> JNum(i.toString)))
      }
    case JArr(_) =>
      Seq(Vector(joinPath(path) -> JNull))
    case JObj(fields) =>
      crossProduct(fields.map { case (k, fv) => flattenVertical(fv, path :+ k) })
    case leaf =>
      Seq(Vector(joinPath(path) -> leaf))
  }

  // ---- multi-table (flattener.go:160-230) --------------------------
  // Normalizes into parent/child tables: each object becomes a row
  // with a snowflake `id`; nested objects/arrays become rows of a
  // table named after their key, carrying `<parentTable>_id`.
  def multiTable(table: String, json: String): Seq[JsonRow] =
    multiTable(table, json, () => Snowflake.default.next())

  def multiTable(table: String, json: String, nextId: () => Long): Seq[JsonRow] = {
    def isContainer(v: JValue): Boolean = v match {
      case JObj(_) | JArr(_) => true
      case _                 => false
    }
    def go(table: String, v: JValue, parentTable: String, parentId: Long): Seq[JsonRow] = v match {
      case JObj(fields) =>
        val oid = nextId()
        val base = Vector.newBuilder[(String, JValue)]
        base += "id" -> JNum(oid.toString)
        if (parentTable.nonEmpty) base += s"${parentTable}_id" -> JNum(parentId.toString)
        val nested = Vector.newBuilder[JsonRow]
        fields.foreach { case (k, fv) =>
          if (isContainer(fv)) nested ++= go(k, fv, table, oid)
          else base += k -> fv
        }
        nested.result() :+ JsonRow(table, JObj(base.result()))
      case JArr(items) =>
        items.flatMap(item => go(table, item, parentTable, parentId))
      case leaf =>
        val b = Vector.newBuilder[(String, JValue)]
        b += "id" -> JNum(nextId().toString)
        b += table -> leaf
        if (parentTable.nonEmpty) b += s"${parentTable}_id" -> JNum(parentId.toString)
        Seq(JsonRow(table, JObj(b.result())))
    }
    go(table, JValue.parse(json), "", 0L)
  }
}
