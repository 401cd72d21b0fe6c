package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The bucket-key column chain that `PersonMatching.bucketKeys` replaced
  * with the native `BucketKeys` generator, kept in test scope as the
  * oracle of `BucketKeysSpec`, `BlockedJoinDiffSpec` and
  * `KernelMicroBench buckets`: `regexp_replace` of `[^a-z\s]`, a regex
  * `split` on the space, a lambda `filter` of empty tokens and a lambda
  * `transform` to `prefix|floor(len / lenUnits)`.
  */
object RetiredBucketKeys {
  def apply(name: Column, idxChars: Int, lenUnits: Int): Column = {
    val cleaned = regexp_replace(name, "[^a-z\\s]", "")
    val subs = filter(split(cleaned, " "), s => s =!= "")
    transform(subs, s =>
      concat_ws("|", substring(s, 1, idxChars), floor(length(s) / lenUnits).cast("string")))
  }
}
