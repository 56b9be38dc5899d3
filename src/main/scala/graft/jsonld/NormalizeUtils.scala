package graft.jsonld

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** Deterministic blank-node relabeler
  * (/root/reference/src/json-ld.net/Core/UniqueNamer.cs:7-79).
  * Stateful and order-sensitive: issuing order defines output names. */
final class UniqueNamer(val prefix: String) {
  private var counter = 0
  private val existing = mutable.LinkedHashMap.empty[String, String]

  def getName(oldName: String): String = {
    if (oldName != null && existing.contains(oldName)) return existing(oldName)
    val name = prefix + counter
    counter += 1
    if (oldName != null) existing.put(oldName, name)
    name
  }
  def getName(): String = getName(null)
  def isNamed(oldName: String): Boolean = existing.contains(oldName)
  def existingKeys: Vector[String] = existing.keys.toVector

  def copy(): UniqueNamer = {
    val c = new UniqueNamer(prefix)
    c.counter = counter
    existing.foreach { case (k, v) => c.existing.put(k, v) }
    c
  }
}

/** Pre-URDNA2015 json-ld.org blank-node canonicalization
  * (/root/reference/src/json-ld.net/Core/NormalizeUtils.cs:9-619).
  * Produces `_:c14n<N>` names; SHA-1 based; `_:a`/`_:z`/`_:g` positional
  * placeholders; Steinhaus–Johnson–Trotter permutation search with the
  * lexicographically-least-path pruning. NOT spec-URDNA2015 — the golden
  * normalize-*.nq files encode THIS algorithm (SURVEY.md §7.4.3). */
final class NormalizeUtils(quads: ArrayBuffer[RdfQuad],
                           bnodes: mutable.LinkedHashMap[String, NormalizeUtils.BnodeEntry],
                           namer: UniqueNamer,
                           options: JsonLdOptions) {
  import NormalizeUtils._

  /** SJT permutation steps consumed so far, across every hashPaths
    * recursion of this normalize run. The reference has no such guard
    * (Core/NormalizeUtils.cs:242-458 searches unboundedly); without it an
    * adversarial symmetric bnode clique is exponential and wedges the
    * executor task that drew the document (SURVEY.md §4.3). */
  private var permutationSteps = 0L

  private def chargePermutation(): Unit = {
    permutationSteps += 1
    val budget = options.normalizeBudget
    if (budget > 0 && permutationSteps > budget)
      throw new JsonLdError(JsonLdError.NormalizeBudgetExceeded,
        s"$budget permutation steps")
  }

  /** Fixpoint hashing + duplicate-group path hashing, then rename, sort
    * lines, concat (Core/NormalizeUtils.cs:30-205). Returns Left(nquads)
    * when options.format == application/nquads, else Right(re-parsed). */
  def hashBlankNodes(unnamed0: Vector[String]): Either[String, RdfDataset] = {
    var unnamed: ArrayBuffer[String] = ArrayBuffer.from(unnamed0)
    var nextUnnamed = new ArrayBuffer[String]
    var duplicates = mutable.LinkedHashMap.empty[String, ArrayBuffer[String]]
    var unique = mutable.LinkedHashMap.empty[String, String]

    while (true) {
      // hash all unnamed bnodes for this round
      unnamed.foreach { bnode =>
        val hash = hashQuads(bnode)
        if (duplicates.contains(hash)) {
          duplicates(hash) += bnode
          nextUnnamed += bnode
        } else if (unique.contains(hash)) {
          val tmp = new ArrayBuffer[String]
          tmp += unique(hash)
          tmp += bnode
          duplicates.put(hash, tmp)
          nextUnnamed += unique(hash)
          nextUnnamed += bnode
          unique.remove(hash)
        } else unique.put(hash, bnode)
      }
      // name unique-hash bnodes in sorted hash order
      var named = false
      unique.keys.toVector.sorted.foreach { hash =>
        namer.getName(unique(hash))
        named = true
      }
      if (named) {
        unnamed = nextUnnamed
        nextUnnamed = new ArrayBuffer[String]
        duplicates = mutable.LinkedHashMap.empty
        unique = mutable.LinkedHashMap.empty
      } else {
        // process duplicate-hash groups in sorted order
        duplicates.keys.toVector.sorted.foreach { hash =>
          val group = duplicates(hash)
          val results = new ArrayBuffer[HashResult]
          group.foreach { bnode =>
            if (!namer.isNamed(bnode)) {
              val pathNamer = new UniqueNamer("_:b")
              pathNamer.getName(bnode)
              results += hashPaths(bnode, pathNamer)
            }
          }
          val sortedResults = results.sortBy(_.hash)
          sortedResults.foreach { r =>
            r.pathNamer.existingKeys.foreach(key => namer.getName(key))
          }
        }
        // all named: update bnode names in each quad and serialize
        val normalized = new ArrayBuffer[String]
        quads.foreach { quad =>
          val attrs: Seq[RdfNode] = Seq(quad.subject, quad.obj) ++ quad.name.toSeq
          attrs.foreach { qa =>
            if (qa.isBlankNode && !qa.value.startsWith("_:c14n"))
              qa.value = namer.getName(qa.value)
          }
          normalized += NQuads.toNQuad(quad, quad.name.map(_.value).orNull)
        }
        val sorted = normalized.sorted
        val sb = new java.lang.StringBuilder
        sorted.foreach(sb.append)
        val rval = sb.toString
        if (options.format != null) {
          if ("application/nquads" == options.format) return Left(rval)
          else throw new JsonLdError(JsonLdError.UnknownFormat, options.format)
        }
        return Right(NQuads.parseNQuads(rval))
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Hash all quads about one bnode with positional placeholders
    * (Core/NormalizeUtils.cs:466-488), memoized per bnode. */
  private def hashQuads(id: String): String = {
    val entry = bnodes(id)
    if (entry.hash != null) return entry.hash
    val nquads = entry.quads.map { quad =>
      NQuads.toNQuad(quad, quad.name.map(_.value).orNull, id)
    }
    val sorted = nquads.sorted
    val md = java.security.MessageDigest.getInstance("SHA-1")
    sorted.foreach(n => md.update(n.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    val hash = encodeHex(md.digest())
    entry.hash = hash
    hash
  }

  /** Path hashing over adjacent-bnode permutations, choosing the
    * lexicographically-least path (Core/NormalizeUtils.cs:242-458). */
  private def hashPaths(id: String, pathNamer0: UniqueNamer): HashResult = {
    var pathNamer = pathNamer0
    val md = java.security.MessageDigest.getInstance("SHA-1")
    val groups = mutable.LinkedHashMap.empty[String, ArrayBuffer[String]]
    val quadsOfId = bnodes(id).quads

    // group adjacent bnodes by SHA-1(direction + predicate + name)
    quadsOfId.foreach { quad =>
      var bnode = getAdjacentBlankNodeName(quad.subject, id)
      var direction: String = null
      if (bnode != null) direction = "p"
      else {
        bnode = getAdjacentBlankNodeName(quad.obj, id)
        if (bnode != null) direction = "r"
      }
      if (bnode != null) {
        val name =
          if (namer.isNamed(bnode)) namer.getName(bnode)
          else if (pathNamer.isNamed(bnode)) pathNamer.getName(bnode)
          else hashQuads(bnode)
        val md1 = java.security.MessageDigest.getInstance("SHA-1")
        md1.update(direction.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        md1.update(quad.predicate.value.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        md1.update(name.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        val groupHash = encodeHex(md1.digest())
        groups.getOrElseUpdate(groupHash, new ArrayBuffer[String]) += bnode
      }
    }

    // hash groups in sorted order (hex strings: ordinal == culture order)
    val groupHashes = groups.keys.toVector.sorted
    groupHashes.foreach { groupHash =>
      md.update(groupHash.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      var chosenPath: String = null
      var chosenNamer: UniqueNamer = null
      val permutator = new Permutator(groups(groupHash).toVector)
      var breakOut = false
      while (!breakOut) {
        var contPermutation = false
        chargePermutation()
        val permutation = permutator.next()
        var pathNamerCopy = pathNamer.copy()
        var path = ""
        val recurse = new ArrayBuffer[String]
        var innerBreak = false
        permutation.foreach { bnode =>
          if (!innerBreak) {
            if (namer.isNamed(bnode)) path += namer.getName(bnode)
            else {
              if (!pathNamerCopy.isNamed(bnode)) recurse += bnode
              path += pathNamerCopy.getName(bnode)
            }
            if (chosenPath != null && path.length >= chosenPath.length && path.compareTo(chosenPath) > 0) {
              if (permutator.hasNext) contPermutation = true
              else {
                md.update(chosenPath.getBytes(java.nio.charset.StandardCharsets.UTF_8))
                pathNamer = chosenNamer
                breakOut = true
              }
              innerBreak = true
            }
          }
        }
        if (!contPermutation && !breakOut) {
          var recBreak = false
          var nrn = 0
          while (!recBreak && nrn <= recurse.length) {
            if (nrn == recurse.length) {
              if (chosenPath == null || path.compareTo(chosenPath) < 0) {
                chosenPath = path
                chosenNamer = pathNamerCopy
              }
              if (!permutator.hasNext) {
                md.update(chosenPath.getBytes(java.nio.charset.StandardCharsets.UTF_8))
                pathNamer = chosenNamer
                breakOut = true
              }
              recBreak = true
            } else {
              val bnode = recurse(nrn)
              val result = hashPaths(bnode, pathNamerCopy)
              path += pathNamerCopy.getName(bnode) + "<" + result.hash + ">"
              pathNamerCopy = result.pathNamer
              if (chosenPath != null && path.length >= chosenPath.length && path.compareTo(chosenPath) > 0) {
                if (!permutator.hasNext) {
                  md.update(chosenPath.getBytes(java.nio.charset.StandardCharsets.UTF_8))
                  pathNamer = chosenNamer
                  breakOut = true
                }
                recBreak = true
              }
              nrn += 1
            }
          }
        }
      }
    }
    val res = new HashResult
    res.hash = encodeHex(md.digest())
    res.pathNamer = pathNamer
    res
  }

  private def getAdjacentBlankNodeName(node: RdfNode, id: String): String =
    if (node.isBlankNode && node.value != id) node.value else null
}

object NormalizeUtils {
  final class BnodeEntry {
    val quads = new ArrayBuffer[RdfQuad]
    var hash: String = null
  }

  final class HashResult {
    var hash: String = null
    var pathNamer: UniqueNamer = null
  }

  private val HexDigits = "0123456789abcdef".toCharArray

  def encodeHex(data: Array[Byte]): String = {
    val out = new Array[Char](data.length * 2)
    var i = 0
    while (i < data.length) {
      out(2 * i) = HexDigits((data(i) >> 4) & 0xF)
      out(2 * i + 1) = HexDigits(data(i) & 0xF)
      i += 1
    }
    new String(out)
  }

  /** Steinhaus–Johnson–Trotter permutator over ordinally-sorted strings
    * (Core/NormalizeUtils.cs:539-617). */
  final class Permutator(list0: Vector[String]) {
    private val list = ArrayBuffer.from(list0.sorted)
    private var done = false
    private val left = mutable.HashMap.empty[String, Boolean]
    list.foreach(i => left(i) = true)

    def hasNext: Boolean = !done

    def next(): Vector[String] = {
      val rval = list.toVector
      var k: String = null
      var pos = 0
      val length = list.length
      var i = 0
      while (i < length) {
        val element = list(i)
        val isLeft = left(element)
        if ((k == null || element.compareTo(k) > 0) &&
            ((isLeft && i > 0 && element.compareTo(list(i - 1)) > 0) ||
             (!isLeft && i < length - 1 && element.compareTo(list(i + 1)) > 0))) {
          k = element
          pos = i
        }
        i += 1
      }
      if (k == null) done = true
      else {
        val swap = if (left(k)) pos - 1 else pos + 1
        list(pos) = list(swap)
        list(swap) = k
        var j = 0
        while (j < length) {
          if (list(j).compareTo(k) > 0) left(list(j)) = !left(list(j))
          j += 1
        }
      }
      rval
    }
  }
}
