package graft.engine

import org.json4s._
import org.json4s.jackson.JsonMethods

/** The job description — field-for-field parity with the reference's `Batch`
  * proto (src/main/proto/common/common.proto:14-23), submitted as JSON
  * (ClientMain.java:44-52). Binary ids become names of ops in [[Ops]],
  * built-in or registered (a registered op may run a binary); everything
  * else keeps the reference's names and semantics:
  *
  *   - `map_ops`    ≡ repeated map_bin_ids (applied in order)
  *   - `reduce_ops` ≡ repeated reduce_bin_ids (applied in order)
  *   - `input_id` / `final_dest_dir_id` ≡ source / sink directories
  *   - `split_count` (M) ≡ map-side parallelism hint; 0 ⇒ empty job
  *     (DistrStorage.java:140-142)
  *   - `r_num` (R) ≡ reduce-side partition count (common.proto:22)
  *
  * The partition binary id is gone: hash partitioning is the shuffle Spark
  * performs on `key` (SURVEY.md O3).
  */
final case class BatchSpec(
    mapOps: List[String],
    reduceOps: List[String],
    inputId: String,
    finalDestDirId: String,
    splitCount: Int,
    rNum: Int)

object BatchSpec {
  def fromJson(json: String): BatchSpec = {
    val j = JsonMethods.parse(json)
    def strs(field: String): List[String] = j \ field match {
      case JArray(xs) =>
        xs.map {
          case JString(s) => s
          // reject rather than silently drop — a malformed op entry must
          // fail the job, not run it with a missing op
          case other =>
            throw new IllegalArgumentException(s"$field: expected string element, got $other")
        }
      case JNothing => Nil
      case other    => throw new IllegalArgumentException(s"$field: expected array, got $other")
    }
    def str(field: String): String = j \ field match {
      case JString(s) => s
      case other      => throw new IllegalArgumentException(s"$field: expected string, got $other")
    }
    // an out-of-range or fractional number is rejected, never wrapped or
    // truncated; `2.0` is an int, as in protobuf's JSON mapping
    def int(field: String, default: Int): Int = j \ field match {
      case JInt(i) if i.isValidInt    => i.toInt
      case JDouble(d) if d.isValidInt => d.toInt
      case JNothing                   => default
      case other => throw new IllegalArgumentException(s"$field: expected int, got $other")
    }
    BatchSpec(
      mapOps = strs("map_ops"),
      reduceOps = strs("reduce_ops"),
      inputId = str("input_id"),
      finalDestDirId = str("final_dest_dir_id"),
      splitCount = int("split_count", default = -1),
      rNum = int("r_num", default = -1))
  }
}
