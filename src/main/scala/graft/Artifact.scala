package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.SparkSession

/** A built artifact — a fitted model, an index, a landed fixture, a shared
  * scratch table — memoized once per key and read by every query that
  * declares it in [[Q.needs]]. The one memo idiom of the engine:
  *
  *  - the key is the session BY REFERENCE, its resolved scratch root and
  *    the sf dir, so a new session or a re-pointed root never reads
  *    another's files;
  *  - atomic: the map only inserts a per-key lazy cell, and concurrent
  *    first readers (harness/Par) block on that cell while one build runs;
  *  - nestable: the build runs outside the map's bin lock, so it may read
  *    another artifact, or another key of this one, even one whose hash
  *    collides (a nested `computeIfAbsent` on one map throws
  *    "Recursive update" there);
  *  - a build that throws is not cached: the next `get` retries it;
  *  - bounded: a memo already holding [[MaxKeys]] keys resets before it
  *    takes a new one — a rare rebuild is cheaper than retaining one model
  *    per (session, sf dir) for the life of the JVM;
  *  - swept: [[Scratch.sweep]] resets every artifact, because the files a
  *    cell names are about to go.
  *
  * `span` is the Bench entry that times the build outside query timing
  * (`_als_fit`, `_stream_stage`, ...); several artifacts may share one.
  */
final class Artifact[A] private (val span: String, maxKeys: Int,
    build: (SparkSession, String) => A) {
  import Artifact.{Cell, Key}

  private val cells = new ConcurrentHashMap[Key, Cell[A]]()
  private val count = new AtomicInteger()

  def get(s: SparkSession, d: String): A = once(s, d)(build(s, d))

  /** The memo with the build given at the call — [[Scratch.cut]]'s form,
    * whose writer differs per cut name.
    */
  private[graft] def once(s: SparkSession, d: String)(mk: => A): A = {
    val key = Key(s, s.conf.get(Scratch.ConfKey, Scratch.Default), d)
    if (cells.size >= maxKeys && !cells.containsKey(key)) cells.clear()
    val cell = cells.computeIfAbsent(key,
      _ => new Cell(() => { count.incrementAndGet(); mk }))
    try cell.value
    catch { case e: Throwable => cells.remove(key, cell); throw e }
  }

  def reset(): Unit = cells.clear()

  /** Builds started so far, failed ones included. */
  private[graft] def builds: Int = count.get
}

object Artifact {
  private val MaxKeys = 4

  private final class Cell[A](mk: () => A) { lazy val value: A = mk() }
  private final case class Key(s: SparkSession, root: String, d: String)

  private val registry = new ConcurrentLinkedQueue[Artifact[_]]()

  def apply[A](span: String)(build: (SparkSession, String) => A): Artifact[A] = {
    val a = new Artifact(span, MaxKeys, build)
    registry.add(a)
    Scratch.onSweep(() => a.reset())
    a
  }

  /** Every artifact made with `apply`, in creation order. */
  def all: Seq[Artifact[_]] = registry.toArray(Array.empty[Artifact[_]]).toSeq

  /** The write memo behind [[Scratch.cut]]: one cell per cut name (the
    * `d` slot), unbounded, since a cell records a written path rather than
    * retaining a model. Not in [[all]]: cuts are query-internal, and
    * [[Scratch.sweep]] resets it directly.
    */
  private[graft] def cuts(): Artifact[Unit] =
    new Artifact[Unit]("", Int.MaxValue, (_, _) => ())
}
