package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.classic.GraftColumns.{column, expression}
import org.apache.spark.sql.functions.lower

/** The engine's native expressions as typed `Column` functions — the
  * plugin surface, mirroring the reference's Bloblang function
  * registration (reference: public/bloblang/environment.go
  * RegisterFunctionV2) as a Scala builder over Datasets. Each function
  * wraps one Catalyst expression of `NativeExpressions` over its Column
  * inputs, so it needs no session and no registration step; literal
  * arguments that shape the expression are Scala `Int`s.
  */
object NativeFunctions {

  /** Whitespace-family token count of `lower(text)` (`TokenCount`). */
  def tokenCount(text: Column): Column =
    column(TokenCount(expression(lower(text))))

  /** The counts the quality and language gates need, from one tokenizing
    * pass over `text` (`TextGate`): the words of `TextOps.words(text)` and
    * their distinct `lexicon` hits (overall and per language), plus the
    * length, letters and punctuation of `text` (fields: `TextGate.Counts`,
    * then `hits_<lang>`). Calls on the same `text` are equal expressions,
    * and subexpression elimination evaluates such an expression once per
    * row when it is read by two different fields outside any conditional
    * branch — `qualityScore` reads `chars` and `words` there — so a
    * projection using both gates tokenizes each row once (PlanShapeSpec
    * pins this).
    */
  def textGate(text: Column, lexicon: Seq[(String, Seq[String])]): Column =
    column(TextGate(expression(text), expression(lower(text)), lexicon))

  /** 64-bit SimHash signature (`SimHash64`). */
  def simhash64(text: Column): Column = column(SimHash64(expression(text)))

  /** MinHash signature over word `k`-shingles, `numHashes` long
    * (`MinHashSig`); null when the text has no tokens.
    */
  def minhashSig(text: Column, k: Int, numHashes: Int): Column =
    column(MinHashSig(expression(text), k, numHashes))

  /** Character `n`-gram Jaccard similarity of two strings (`NgramJaccard`). */
  def ngramJaccard(a: Column, b: Column, n: Int): Column =
    column(NgramJaccard(expression(a), expression(b), n))

  /** Random-hyperplane LSH bucket id of an ARRAY<FLOAT> (`LshBucket`). */
  def lshBucket(emb: Column, bits: Int, seed: Int): Column =
    column(LshBucket(expression(emb), bits, seed))

  /** Cosine similarity of two ARRAY<FLOAT> columns (`CosineSim`). */
  def cosine(a: Column, b: Column): Column =
    column(CosineSim(expression(a), expression(b)))

  /** Cosine similarity of two ARRAY<TINYINT> columns (`CosineSimI8`). */
  def cosineI8(a: Column, b: Column): Column =
    column(CosineSimI8(expression(a), expression(b)))

  /** Signed FNV-1a 32 of a BINARY key (`Fnv1a32`). */
  def fnv1a32(key: Column): Column = column(Fnv1a32(expression(key)))

  /** Kafka-compatible signed murmur2 of a BINARY key (`Murmur2Kafka`). */
  def murmur2(key: Column): Column = column(Murmur2Kafka(expression(key)))
}
