package graft

package object ops {

  // graftbench's Main still imports these two by their old names; the next
  // change to the benchmark renames its two call sites and deletes both.
  val Advanced13: Retrieval.type = Retrieval
  val Advanced15: Tokenization.type = Tokenization
}
