package perfbench

import java.nio.charset.StandardCharsets

import scala.collection.mutable.ArrayBuffer

/** One generated transaction: its wal2json line, its number of changes,
  * and the sink records the reference's contract says it must produce:
  * (partition key, CSVPayload message) for every change that passes the
  * table pattern and the operation allow-list, in change order. */
case class Txn(xid: Long, line: Array[Byte], changes: Int,
    expected: Array[(String, String)])

/** Seeded generator of a wal2json change stream, independent of the
  * engine. Its properties are the ones the pipeline's cost and
  * correctness depend on:
  *  - six tables, two of them excluded by [[WalGen.TablePat]];
  *  - primary keys at column positions 1 to 4, one composite key
  *    (the catalog keeps its last column), integer, uuid and unicode
  *    text key values;
  *  - skewed transaction sizes, from 1 change to several hundred;
  *  - text values up to ~1 KB wide with non-ASCII characters;
  *  - inserts, updates and deletes, with deletes gated out by
  *    [[WalGen.Operations]].
  * The expected records are derived here from the generator's own
  * values, never from the engine. */
class WalGen(seed: Long, firstXid: Long = 1000L) {
  import WalGen._

  private val rng = new java.util.Random(seed)
  private var xid = firstXid
  private var serial = 0L

  private def pick[T](xs: Seq[(T, Int)]): T = {
    var r = rng.nextInt(xs.map(_._2).sum)
    xs.find { case (_, w) => r -= w; r < 0 }.get._1
  }

  /** Skewed transaction size: most are a single change, a few run to
    * several hundred. */
  private def txnSize(): Int = rng.nextInt(100) match {
    case r if r < 55 => 1
    case r if r < 85 => 2 + rng.nextInt(9)
    case r if r < 97 => 11 + rng.nextInt(50)
    case _ => 61 + rng.nextInt(340)
  }

  private def text(maxLen: Int): String = {
    val len = if (rng.nextInt(10) == 0) 1 + rng.nextInt(maxLen) else 1 + rng.nextInt(40)
    val sb = new java.lang.StringBuilder(len + 8)
    while (sb.length < len) {
      if (rng.nextInt(8) == 0) sb.append(Unicode(rng.nextInt(Unicode.length)))
      else sb.append(Ascii.charAt(rng.nextInt(Ascii.length)))
    }
    sb.toString
  }

  private def uuid(): String = new java.util.UUID(rng.nextLong(), rng.nextLong()).toString

  /** The key value as wal2json prints it (JSON), and as the parser reads
    * it back into the string-typed `columnvalues` (the raw token text
    * for numbers, the unquoted text for strings). */
  private def keyValue(kind: String): (String, String) = kind match {
    case "int" => serial += 1; val v = (serial * 7919L % 100000000L).toString; (v, v)
    case "uuid" => val v = uuid(); (Json.str(v), v)
    case _ => val v = s"k${rng.nextInt(1000000)}-${text(12)}"; (Json.str(v), v)
  }

  def next(): Txn = {
    xid += 1 + rng.nextInt(3)
    val n = txnSize()
    val sb = new java.lang.StringBuilder(256 * n)
    sb.append("{\"xid\": ").append(xid).append(", \"change\": [")
    val expected = ArrayBuffer.empty[(String, String)]
    var i = 0
    while (i < n) {
      val t = pick(Tables)
      val op = pick(Ops)
      val (keyJson, key) = keyValue(t.keyKind)
      if (i > 0) sb.append(", ")
      sb.append("{\"kind\": \"").append(op).append("\", \"schema\": \"")
        .append(t.schema).append("\", \"table\": \"").append(t.table)
        .append("\", \"columnnames\": [")
        .append(t.columns.map(c => Json.str(c._1)).mkString(", "))
        .append("], \"columntypes\": [")
        .append(t.columns.map(c => Json.str(c._2)).mkString(", "))
        .append("], \"columnvalues\": [")
      var c = 0
      while (c < t.columns.size) {
        if (c > 0) sb.append(", ")
        if (c == t.keyPos - 1) sb.append(keyJson)
        else t.columns(c)._2 match {
          case "integer" | "bigint" => sb.append(rng.nextInt(1000000))
          case "numeric" => sb.append(rng.nextInt(100000)).append('.').append(rng.nextInt(90) + 10)
          case "boolean" => sb.append(rng.nextBoolean())
          case "timestamptz" => sb.append(Json.str(f"2024-0${1 + rng.nextInt(9)}-1${rng.nextInt(10)} 12:0${rng.nextInt(10)}:00+00"))
          case _ => sb.append(Json.str(text(1000)))
        }
        c += 1
      }
      sb.append("]}")
      if (t.included && Operations.contains(op))
        expected += (xid.toString ->
          s"""0,CDC,{"xid":$xid,"table":"${t.schema}.${t.table}","operation":"$op","pkey":${Json.str(key)}}""")
      i += 1
    }
    sb.append("]}\n")
    Txn(xid, sb.toString.getBytes(StandardCharsets.UTF_8), n, expected.toArray)
  }
}

object WalGen {
  case class TableDef(schema: String, table: String,
      columns: Seq[(String, String)], keyPos: Int, keyKind: String,
      included: Boolean, extraKeyPos: Option[Int] = None)

  /** Anchored: the parser applies the pattern as an unanchored search,
    * like the reference's `re.search`. */
  val TablePat = "^public\\.(accounts|orders|profiles|documents)$"

  /** Deletes are gated out: their messages are nulled, not put. */
  val Operations: Seq[String] = Seq("insert", "update")

  private val Ascii = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789 -_.,:;"
  private val Unicode = Array("é", "ß", "ø", "ж", "λ", "漢", "字", "한", "€", "🙂")

  val Tables: Seq[(TableDef, Int)] = Seq(
    TableDef("public", "accounts", Seq("id" -> "integer", "owner" -> "text",
      "balance" -> "numeric", "note" -> "text"), 1, "int", included = true) -> 30,
    TableDef("public", "orders", Seq("region" -> "text", "placed" -> "timestamptz",
      "order_id" -> "bigint", "amount" -> "numeric", "items" -> "text"), 3, "int",
      included = true, extraKeyPos = Some(1)) -> 25,
    TableDef("public", "profiles", Seq("handle" -> "text", "bio" -> "text",
      "uid" -> "uuid", "active" -> "boolean"), 3, "uuid", included = true) -> 15,
    TableDef("public", "documents", Seq("title" -> "text", "body" -> "text",
      "lang" -> "text", "doc_key" -> "text"), 4, "text", included = true) -> 15,
    TableDef("audit", "log", Seq("id" -> "bigint", "entry" -> "text"), 1, "int",
      included = false) -> 10,
    TableDef("public", "orders_staging", Seq("batch" -> "text", "row_no" -> "integer",
      "payload" -> "text"), 2, "int", included = false) -> 5)

  val Ops: Seq[(String, Int)] = Seq("insert" -> 50, "update" -> 35, "delete" -> 15)

  /** The PK catalog rows a `pg_index` query would return: one row per
    * key column, so the composite key exercises the last-column rule. */
  def catalogItems: Seq[graft.core.PrimaryKeyMapItem] =
    Tables.map(_._1).flatMap { t =>
      val name = s"${t.schema}.${t.table}"
      (t.extraKeyPos.toSeq :+ t.keyPos).map { p =>
        graft.core.PrimaryKeyMapItem(name, t.columns(p - 1)._1, t.columns(p - 1)._2, p)
      }
    }
}
