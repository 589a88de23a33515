package graft.checks

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.col

/** A trained averaged-perceptron NER model: sparse feature → per-tag weight
  * vector over the fixed BIO tag set. Engine-portable plain data (the model
  * rides into generated code as a reference object via [[NerDetect]]).
  */
final case class PerceptronNerModel(weights: Map[String, Array[Double]])

/** Statistical (model-backed) NER behind the [[NerEngine]] seam — the
  * "trained model" half the gazetteer default deliberately left as a plug-in
  * (reference scores Presidio's trained models via pandas UDF,
  * pii/pii_detection_funcs.py:118-186; this is the pure-JVM analog).
  *
  * Shape: a greedy left-to-right averaged perceptron over BIO tags
  * (PERSON/ORG/LOC) with the standard sparse feature template — word
  * identity, shape, affixes, context words, previous tag (Collins 2002;
  * Honnibal's public tagger write-up). Training is DISTRIBUTED by iterative
  * parameter mixing (McDonald et al. 2010): each epoch is ONE treeAggregate
  * pass — every partition runs the sequential perceptron locally from the
  * broadcast weights and emits a sparse delta; the driver averages deltas.
  * The driver holds only the O(features) weight map, never rows; scoring is
  * row-local and codegen'd through [[NerDetect]].
  */
object PerceptronNer {

  /** BIO tag inventory; index order is the deterministic argmax tie-break. */
  val Tags: Vector[String] =
    Vector("O", "B-PERSON", "I-PERSON", "B-ORG", "I-ORG", "B-LOC", "I-LOC")
  private val TagIdx: Map[String, Int] = Tags.zipWithIndex.toMap

  private val TokenRx = "[\\p{L}\\p{N}]+|[^\\s\\p{L}\\p{N}]".r

  /** Case-preserving word/punctuation tokens. */
  def tokenize(text: String): Array[String] =
    if (text == null) Array.empty else TokenRx.findAllIn(text).toArray

  /** Compressed word shape: runs of upper → X, lower → x, digit → d,
    * other kept (e.g. "McDonald's" → "XxXx'x").
    */
  private[checks] def shape(w: String): String = {
    val sb = new StringBuilder
    var last = '\u0000'
    w.foreach { ch =>
      val c = if (ch.isUpper) 'X' else if (ch.isLower) 'x' else if (ch.isDigit) 'd' else ch
      if (c != last || (c != 'X' && c != 'x' && c != 'd')) sb.append(c)
      last = c
    }
    sb.toString
  }

  /** Sparse feature strings for position `i` given the previous tag.
    * Includes Collins 2002-style gazetteer-membership features (the public
    * name/place lists [[GazetteerNerEngine]] carries) for the current,
    * previous, and next word — standard perceptron-NER practice: the lists
    * provide identity evidence, the learned weights arbitrate it against
    * shape and context (so "Jordan River" and "April showers" resolve by
    * context instead of by list membership alone).
    */
  private[checks] def features(toks: Array[String], i: Int, prevTag: String): Array[String] = {
    val w = toks(i)
    val lw = w.toLowerCase(java.util.Locale.ROOT)
    val prev = if (i > 0) toks(i - 1).toLowerCase(java.util.Locale.ROOT) else "<s>"
    val next = if (i + 1 < toks.length) toks(i + 1).toLowerCase(java.util.Locale.ROOT) else "</s>"
    val isCap = w.length > 0 && w.head.isUpper
    val G = GazetteerNerEngine
    Array(
      "b",
      "w=" + lw,
      "suf3=" + lw.takeRight(3),
      "pre1=" + lw.take(1),
      "shape=" + shape(w),
      if (isCap) "cap" else "nocap",
      if (w.length > 1 && w.forall(_.isUpper)) "allcaps" else "noallcaps",
      "prevw=" + prev,
      "nextw=" + next,
      if (i > 0 && toks(i - 1).headOption.exists(_.isUpper)) "prevcap" else "noprevcap",
      if (i + 1 < toks.length && toks(i + 1).headOption.exists(_.isUpper)) "nextcap" else "nonextcap",
      "pt=" + prevTag,
      "pt+w=" + prevTag + "+" + lw,
      if (G.isGivenName(lw)) "g:giv" else "g:giv0",
      if (G.isSurname(lw)) "g:sur" else "g:sur0",
      if (G.isPlaceWord(lw)) "g:plc" else "g:plc0",
      if (G.isSurname(next)) "g:nextsur" else "g:nextsur0",
      if (G.isGivenName(prev)) "g:prevgiv" else "g:prevgiv0")
  }

  private def scoreAll(weights: Map[String, Array[Double]], feats: Array[String]): Array[Double] = {
    val s = new Array[Double](Tags.length)
    var i = 0
    while (i < feats.length) {
      weights.get(feats(i)) match {
        case Some(wv) =>
          var t = 0
          while (t < s.length) { s(t) += wv(t); t += 1 }
        case None =>
      }
      i += 1
    }
    s
  }

  private def argmax(s: Array[Double]): Int = {
    var best = 0
    var i = 1
    while (i < s.length) { if (s(i) > s(best)) best = i; i += 1 }
    best
  }

  /** Greedy left-to-right decode; deterministic (ties → lowest tag index). */
  def decode(model: PerceptronNerModel, toks: Array[String]): Array[String] = {
    val out = new Array[String](toks.length)
    var prev = "O"
    var i = 0
    while (i < toks.length) {
      val tag = Tags(argmax(scoreAll(model.weights, features(toks, i, prev))))
      out(i) = tag
      prev = tag
      i += 1
    }
    out
  }

  /** Train on (tokens array, BIO tags array) rows. One treeAggregate per
    * epoch (iterative parameter mixing); `df` should be the labeled training
    * set — thousands of sentences, not a corpus (sample upstream at 100 TB).
    * Deterministic for a deterministic input partitioning.
    */
  def train(df: DataFrame, tokens: Column, tags: Column, epochs: Int = 5): PerceptronNerModel = {
    require(epochs > 0, "epochs must be positive")
    val spark = df.sparkSession
    import spark.implicits._
    val data = df.select(tokens, tags).as[(Seq[String], Seq[String])].rdd
      .map { case (t, g) =>
        require(t.length == g.length, "tokens and tags must align")
        g.foreach(tag => require(TagIdx.contains(tag), s"unknown tag '$tag'"))
        (t.toArray, g.toArray)
      }.cache()
    try {
      require(data.count() > 0, "PerceptronNer.train needs at least one sentence")
      var weights = Map.empty[String, Array[Double]]
      var epoch = 0
      while (epoch < epochs) {
        val bc = spark.sparkContext.broadcast(weights)
        // each partition: sequential perceptron from the broadcast weights,
        // emits (sparse delta, 1); driver averages over contributing partitions
        val (delta, parts) = data.mapPartitions { it =>
          val local = scala.collection.mutable.HashMap.empty[String, Array[Double]]
          def vec(f: String): Array[Double] =
            local.getOrElseUpdate(f,
              bc.value.get(f).map(_.clone()).getOrElse(new Array[Double](Tags.length)))
          def lookup(f: String): Array[Double] =
            local.getOrElse(f, bc.value.getOrElse(f, null))
          var any = false
          it.foreach { case (toks, gold) =>
            any = true
            var prev = "O"
            var i = 0
            while (i < toks.length) {
              val feats = features(toks, i, prev)
              val s = new Array[Double](Tags.length)
              var fi = 0
              while (fi < feats.length) {
                val wv = lookup(feats(fi))
                if (wv != null) { var t = 0; while (t < s.length) { s(t) += wv(t); t += 1 } }
                fi += 1
              }
              val pred = argmax(s)
              val goldIdx = TagIdx(gold(i))
              if (pred != goldIdx) {
                fi = 0
                while (fi < feats.length) {
                  val wv = vec(feats(fi))
                  wv(goldIdx) += 1.0
                  wv(pred) -= 1.0
                  fi += 1
                }
              }
              prev = Tags(pred)
              i += 1
            }
          }
          if (!any) Iterator.empty
          else {
            val d = local.iterator.map { case (f, wv) =>
              val base = bc.value.getOrElse(f, new Array[Double](Tags.length))
              val dd = new Array[Double](Tags.length)
              var t = 0
              while (t < dd.length) { dd(t) = wv(t) - base(t); t += 1 }
              f -> dd
            }.toMap
            Iterator.single((d, 1L))
          }
        }.treeAggregate((Map.empty[String, Array[Double]], 0L))(
          seqOp = { case ((acc, n), (d, k)) => (mergeAdd(acc, d), n + k) },
          combOp = { case ((a, n1), (b, n2)) => (mergeAdd(a, b), n1 + n2) })
        bc.destroy()
        if (parts > 0) {
          val inv = 1.0 / parts
          val merged = scala.collection.mutable.HashMap.empty[String, Array[Double]]
          weights.foreach { case (f, wv) => merged(f) = wv.clone() }
          delta.foreach { case (f, dd) =>
            val wv = merged.getOrElseUpdate(f, new Array[Double](Tags.length))
            var t = 0
            while (t < wv.length) { wv(t) += dd(t) * inv; t += 1 }
          }
          weights = merged.toMap
        }
        epoch += 1
      }
      PerceptronNerModel(weights)
    } finally { data.unpersist(); () }
  }

  private def mergeAdd(a: Map[String, Array[Double]],
                       b: Map[String, Array[Double]]): Map[String, Array[Double]] = {
    val m = scala.collection.mutable.HashMap.empty[String, Array[Double]]
    a.foreach { case (f, wv) => m(f) = wv.clone() }
    b.foreach { case (f, wv) =>
      m.get(f) match {
        case Some(acc) => var t = 0; while (t < acc.length) { acc(t) += wv(t); t += 1 }
        case None => m(f) = wv.clone()
      }
    }
    m.toMap
  }
}

/** JSON (de)serialization for [[PerceptronNerModel]] — the model-as-data
  * path (reference loads Presidio's trained artifacts,
  * pii/pii_detection_funcs.py:33): train once, save to any Hadoop-visible
  * URI, and wire scoring runs via the `ner_model_location` metadata
  * argument. Format: `{"tags": [...], "weights": {"w=alice": [0,5,...]}}`;
  * the tag inventory is stored and validated so a weights file trained
  * against a different tag set fails loudly instead of mis-decoding.
  */
object PerceptronNerModelJson {
  def render(model: PerceptronNerModel): String = {
    import org.json4s.JsonDSL._
    org.json4s.jackson.JsonMethods.compact(
      org.json4s.jackson.JsonMethods.render(
        ("tags" -> PerceptronNer.Tags) ~
          ("weights" -> model.weights.map { case (f, wv) => f -> wv.toSeq })))
  }

  def parse(json: String): PerceptronNerModel = {
    implicit val formats: org.json4s.Formats = org.json4s.DefaultFormats
    val j = org.json4s.jackson.JsonMethods.parse(json)
    val tags = (j \ "tags").extract[Seq[String]]
    require(tags == PerceptronNer.Tags,
      s"model tag set $tags does not match the engine's ${PerceptronNer.Tags}")
    PerceptronNerModel((j \ "weights").extract[Map[String, Seq[Double]]]
      .map { case (f, wv) =>
        require(wv.length == PerceptronNer.Tags.length,
          s"weight vector for '$f' has ${wv.length} entries, expected ${PerceptronNer.Tags.length}")
        f -> wv.toArray
      })
  }

  def save(spark: org.apache.spark.sql.SparkSession, location: String,
           model: PerceptronNerModel): Unit =
    graft.io.FsText.write(spark, location, render(model))

  def load(spark: org.apache.spark.sql.SparkSession, location: String): PerceptronNerModel =
    parse(graft.io.FsText.read(spark, location))
}

/** [[NerEngine]] backed by a trained [[PerceptronNerModel]] — wire it
  * programmatically (`NerDetect(expr, new PerceptronNerEngine(model))` or
  * the PII check's engine parameter), or by file through the
  * `ner_model_location` metadata argument ([[PerceptronNerModelJson]]).
  * The FQCN `ner_engine_class` path needs a zero-arg constructor and
  * therefore stays gazetteer-backed; a trained model is data, not a class.
  */
final class PerceptronNerEngine(model: PerceptronNerModel) extends NerEngine {
  override def detect(text: String): Seq[String] = {
    if (text == null || text.isEmpty) return Seq.empty
    val toks = PerceptronNer.tokenize(text)
    if (toks.isEmpty) return Seq.empty
    PerceptronNer.decode(model, toks)
      .collect { case t if t != "O" => t.substring(2) }
      .distinct.toSeq
  }
}
