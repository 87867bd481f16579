package graftbench

/** The benchmark's seeds. `Default` is the one runs use unless told
  * otherwise, and the one output digests are recorded for. `Holdout` is
  * reserved for validating a later performance claim on inputs not used
  * while the change was written: do not tune against it. */
object Seeds {
  val Default = 1L
  val Holdout = 7919L
}
