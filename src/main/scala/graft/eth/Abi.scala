package graft.eth

import java.math.BigInteger
import java.nio.charset.StandardCharsets

import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf

/** Contract-ABI input decoder (reference:
  * /root/reference/operations/inputs.py:15-53): match the 4-byte
  * selector of a transaction input against a contract's ABI, then
  * decode the argument words. Returns None when no ABI entry matches or
  * the arguments don't parse (the reference continues past
  * AssertionError to try further entries).
  *
  * Supported types (what `ethereum.abi.decode_abi` handles for modern
  * ABIs): uintN/intN, address, bool, bytesN, bytes, string, arrays
  * T[k]/T[] of ANY element type (dynamic elements and nesting
  * included), and tuples with arbitrary components. Value rendering
  * follows the reference's golden fixtures
  * (tests/input_parsing_tests.py:20-26): integers as decimal strings,
  * addresses as 0x-prefixed hex, arrays as `[a, b]`, tuples as
  * `(a, b)` (Python's str() of list/tuple); byte blobs render as
  * 0x-hex (the Python str(bytes) artifact is not reproduced).
  */
object Abi {

  case class DecodedParam(`type`: String, value: String)
  case class DecodedInput(name: String, params: Seq[DecodedParam])

  /** Parsed ABI type tree: the type string alone can't describe tuples
    * (their shape lives in the entry's `components`), so decode walks
    * this tree instead of re-parsing strings.
    */
  private sealed trait AbiType { def isDynamic: Boolean }
  private case class Elementary(name: String) extends AbiType {
    val isDynamic: Boolean = name == "bytes" || name == "string"
  }
  private case class FixedArray(elem: AbiType, k: Int) extends AbiType {
    val isDynamic: Boolean = elem.isDynamic
  }
  private case class DynArray(elem: AbiType) extends AbiType {
    val isDynamic: Boolean = true
  }
  private case class TupleType(components: Seq[AbiType]) extends AbiType {
    val isDynamic: Boolean = components.exists(_.isDynamic)
  }

  private val mapper = new ObjectMapper()

  /** Canonical ABI type for signature hashing (uint → uint256 etc). */
  def canonicalType(t: String): String = {
    val arr = t.lastIndexOf('[')
    if (arr >= 0) canonicalType(t.substring(0, arr)) + t.substring(arr)
    else t match {
      case "uint" => "uint256"
      case "int" => "int256"
      case "fixed" => "fixed128x128"
      case "ufixed" => "ufixed128x128"
      case other => other
    }
  }

  private def canonical(t: AbiType): String = t match {
    case Elementary(n) => n
    case FixedArray(e, k) => canonical(e) + s"[$k]"
    case DynArray(e) => canonical(e) + "[]"
    case TupleType(cs) => cs.map(canonical).mkString("(", ",", ")")
  }

  /** 4-byte method id of name(inputTypes...) for tuple-free
    * signatures (the tuple-aware path goes through the parsed tree).
    */
  def methodId(name: String, inputTypes: Seq[String]): String =
    Keccak256.selector(name + "(" + inputTypes.map(canonicalType).mkString(",") + ")")

  private def methodIdOf(name: String, inputs: Seq[AbiType]): String =
    Keccak256.selector(name + inputs.map(canonical).mkString("(", ",", ")"))

  /** Parse one ABI input's type: the declared string (array suffixes
    * apply left to right) over the entry's `components` when the base
    * is `tuple`.
    */
  private def parseType(typeStr: String, components: com.fasterxml.jackson.databind.JsonNode): AbiType = {
    val t = typeStr.trim
    if (t.endsWith("]")) {
      val i = t.lastIndexOf('[')
      val inner = parseType(t.substring(0, i), components)
      val spec = t.substring(i + 1, t.length - 1)
      if (spec.isEmpty) DynArray(inner) else FixedArray(inner, spec.toInt)
    } else if (t == "tuple") {
      if (components == null || !components.isArray)
        throw new IllegalArgumentException("tuple without components")
      val cs = scala.collection.mutable.ArrayBuffer.empty[AbiType]
      val it = components.elements()
      while (it.hasNext) {
        val c = it.next()
        cs += parseType(c.get("type").asText(),
          if (c.has("components")) c.get("components") else null)
      }
      TupleType(cs.toSeq)
    } else Elementary(canonicalType(t))
  }

  /** Words a type occupies in its enclosing head section (dynamic
    * types hold a 32-byte offset; static composites inline fully).
    */
  private def headSize(t: AbiType): Int =
    if (t.isDynamic) 32
    else t match {
      case Elementary(_) => 32
      case FixedArray(e, k) => k * headSize(e)
      case TupleType(cs) => cs.map(headSize).sum
      case DynArray(_) => 32 // unreachable: always dynamic
    }

  private def word(data: Array[Byte], i: Int): Array[Byte] = {
    if (i < 0 || i + 32 > data.length) throw new IllegalArgumentException("short data")
    java.util.Arrays.copyOfRange(data, i, i + 32)
  }

  private def renderStatic(t: String, w: Array[Byte]): String = {
    val c = canonicalType(t)
    if (c.startsWith("uint")) new BigInteger(1, w).toString
    else if (c.startsWith("int")) new BigInteger(w).toString
    else if (c == "address")
      "0x" + w.drop(12).map("%02x".format(_)).mkString
    else if (c == "bool")
      if (new BigInteger(1, w).signum() != 0) "True" else "False"
    else if (c.startsWith("bytes")) {
      val n = c.substring(5).toInt
      if (n < 1 || n > 32) throw new IllegalArgumentException(s"bad width $c")
      "0x" + w.take(n).map("%02x".format(_)).mkString
    } else throw new IllegalArgumentException(s"unsupported static type $t")
  }

  /** Decode a head section of `ts` rooted at `base` (offsets inside a
    * region are relative to that region's start — the one rule that
    * makes arbitrary nesting decode with a single recursion).
    */
  private def decodeSeq(ts: Seq[AbiType], data: Array[Byte], base: Int): Seq[String] = {
    var head = base
    ts.map { t =>
      if (!t.isDynamic) {
        val v = decodeStatic(t, data, head); head += headSize(t); v
      } else {
        val off = base + new BigInteger(1, word(data, head)).intValueExact()
        head += 32
        decodeDynamic(t, data, off)
      }
    }
  }

  private def decodeStatic(t: AbiType, data: Array[Byte], pos: Int): String = t match {
    case Elementary(n) => renderStatic(n, word(data, pos))
    case FixedArray(e, k) =>
      val step = headSize(e)
      (0 until k).map(i => decodeStatic(e, data, pos + i * step))
        .mkString("[", ", ", "]")
    case TupleType(cs) => decodeSeq(cs, data, pos).mkString("(", ", ", ")")
    case DynArray(_) => throw new IllegalStateException("dynamic in static path")
  }

  private def decodeDynamic(t: AbiType, data: Array[Byte], off: Int): String = t match {
    case Elementary(n) => // bytes | string
      val len = new BigInteger(1, word(data, off)).intValueExact()
      if (len < 0 || off + 32 + len > data.length)
        throw new IllegalArgumentException("short tail")
      val bytes = java.util.Arrays.copyOfRange(data, off + 32, off + 32 + len)
      if (n == "string") new String(bytes, StandardCharsets.UTF_8)
      else "0x" + bytes.map("%02x".format(_)).mkString
    case DynArray(e) =>
      val len = new BigInteger(1, word(data, off)).intValueExact()
      if (len < 0 || len > data.length / 32)
        throw new IllegalArgumentException("implausible array length")
      decodeSeq(Seq.fill(len)(e), data, off + 32).mkString("[", ", ", "]")
    case FixedArray(e, k) => // dynamic element type: k offset slots
      decodeSeq(Seq.fill(k)(e), data, off).mkString("[", ", ", "]")
    case TupleType(cs) =>
      decodeSeq(cs, data, off).mkString("(", ", ", ")")
  }

  private def hexToBytes(s0: String): Array[Byte] = {
    val s1 = if (s0.startsWith("0x")) s0.substring(2) else s0
    val s = if (s1.length % 2 == 1) "0" + s1 else s1
    val out = new Array[Byte](s.length / 2)
    var i = 0
    while (i < out.length) {
      out(i) = Integer.parseInt(s.substring(2 * i, 2 * i + 2), 16).toByte
      i += 1
    }
    out
  }

  /** Decode `callData` against the contract's ABI JSON. Mirrors the
    * reference loop: try every function/event entry whose method id
    * matches the selector; first successful decode wins.
    */
  def decodeInput(abiJson: String, callData: String): Option[DecodedInput] = {
    try {
      val abi = mapper.readTree(abiJson)
      if (!abi.isArray || callData == null || callData.length < 10) return None
      val bytes = hexToBytes(callData)
      if (bytes.length < 4) return None
      val selector = bytes.take(4).map("%02x".format(_)).mkString
      val it = abi.elements()
      while (it.hasNext) {
        val entry = it.next()
        val entryType = if (entry.has("type")) entry.get("type").asText() else ""
        if ((entryType == "function" || entryType == "event") && entry.has("name")) {
          val name = entry.get("name").asText()
          try {
            val types = if (entry.has("inputs")) {
              val inputs = entry.get("inputs").elements()
              val buf = scala.collection.mutable.ArrayBuffer.empty[AbiType]
              while (inputs.hasNext) {
                val in = inputs.next()
                buf += parseType(in.get("type").asText(),
                  if (in.has("components")) in.get("components") else null)
              }
              buf.toSeq
            } else Seq.empty[AbiType]
            if (methodIdOf(name, types) == selector) {
              val values = decodeSeq(types, bytes.drop(4), 0)
              return Some(DecodedInput(name,
                types.zip(values).map { case (t, v) => DecodedParam(canonical(t), v) }))
            }
          } catch {
            case NonFatal(_) => () // unparsable entry / bad data: try the next
          }
        }
      }
      None
    } catch {
      case NonFatal(_) => None
    }
  }

  /** Spark UDF: (abiJson, input) → struct(name, params array<struct>).
    * A Scala UDF (not codegen) is acceptable here: ABI decode is the
    * genuinely-irregular scalar (per-row JSON walk), exactly the case
    * SURVEY §2.C reserves UDFs for.
    */
  val decodeInputUdf =
    udf((abiJson: String, input: String) =>
      if (abiJson == null || input == null) None else decodeInput(abiJson, input))

  def decode_input(abi: Column, input: Column): Column = decodeInputUdf(abi, input)
}
