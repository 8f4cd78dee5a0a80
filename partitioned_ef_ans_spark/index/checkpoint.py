"""Resumable index build: per-partition checkpoints, lineage, metrics.

The reference's build is one monolithic process; at 10^12-file scale a
build must survive preemption.  Strategy (north_rule: "resumable from
checkpoint with per-partition lineage + metrics"):

1. STAGE    — tokenize -> chunked postings written once as a parquet
              staging table partitioned by ``part_id = crc32(term) %
              num_parts`` (idempotent: skipped when _SUCCESS exists).
              Doc stats + frozen ANS models are also staged once.
2. ENCODE   — one Spark job per *incomplete* part encodes that part's
              chunks into ``index.parquet/part=<id>/``; on success a
              line is appended to ``checkpoints.jsonl`` carrying the
              part's lineage fingerprint (rows, postings, xor of term
              hashes — recomputable from staging) + byte/time metrics.
3. RESUME   — a rerun reads checkpoints.jsonl and skips completed
              parts; a part whose lineage fingerprint no longer matches
              staging is re-encoded (input drift protection).

Failure injection for tests: ``fail_after_parts`` raises mid-build;
the rerun completes the remainder without re-encoding finished parts.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from partitioned_ef_ans_spark.index import build as b_mod
from partitioned_ef_ans_spark.operators import doc_stats as ds_mod
from partitioned_ef_ans_spark.operators import postings as p_mod
from partitioned_ef_ans_spark.tokenizer import term_frequencies


class BuildInterrupted(RuntimeError):
    pass


def _lineage(spark: SparkSession, staged: DataFrame, part_id: int) -> dict:
    row = (
        staged.where(F.col("part_id") == part_id)
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.size("doc_ids")).alias("postings"),
            F.sum(F.crc32(F.col("term"))).alias("term_sig"),
        )
        .collect()[0]
    )
    return {
        "rows": int(row["rows"] or 0),
        "postings": int(row["postings"] or 0),
        "term_sig": int(row["term_sig"] or 0),
    }


def build_index_resumable(
    spark: SparkSession,
    corpus_docs: DataFrame,
    out_dir: str,
    codec: str = "ans",
    num_parts: int = 8,
    chunk_postings: int = p_mod.DEFAULT_CHUNK_POSTINGS,
    doc_col: str = "doc_id",
    text_col: str = "text",
    fail_after_parts: int | None = None,
    ngram: int = 1,
) -> dict:
    from partitioned_ef_ans_spark.session import ship_package

    ship_package(spark)
    os.makedirs(out_dir, exist_ok=True)
    staging = f"{out_dir}/staging_postings.parquet"
    ckpt_path = f"{out_dir}/checkpoints.jsonl"
    t0 = time.perf_counter()

    # staging written by a pre-doc_lens version of this module cannot
    # be resumed (the encode pass unpacks chunk-local doc_lens):
    # invalidate it and its checkpoints instead of failing mid-encode
    if os.path.exists(f"{staging}/_SUCCESS"):
        if "doc_lens" not in spark.read.parquet(staging).columns:
            import shutil

            shutil.rmtree(staging)
            if os.path.exists(ckpt_path):
                os.remove(ckpt_path)

    # ---- stage 1: postings + stats + models (idempotent)
    if not os.path.exists(f"{staging}/_SUCCESS"):
        from partitioned_ef_ans_spark.tokenizer import tokenize_ngram

        tokens = tokenize_ngram(
            corpus_docs, doc_col=doc_col, text_col=text_col, ngram=ngram
        )
        tf = term_frequencies(tokens).cache()
        stats = ds_mod.build_doc_stats(
            corpus_docs.select(F.col(doc_col).alias("doc_id")),
            tf.select("doc_id", "term", "tf"),
        )
        stats.write.mode("overwrite").parquet(f"{out_dir}/doc_stats.parquet")
        stats_df = spark.read.parquet(f"{out_dir}/doc_stats.parquet")
        mx = stats_df.agg(F.max("doc_id")).collect()[0][0]
        postings = p_mod.build_postings(
            tf, num_docs=(int(mx) + 1 if mx is not None else 0),
            chunk_postings=chunk_postings, doc_norms=stats_df,
        ).withColumn("part_id", F.crc32(F.col("term")) % num_parts)
        postings.write.mode("overwrite").partitionBy("part_id").parquet(staging)
        tf.unpersist()

    staged = spark.read.parquet(staging)
    # doc_lens ride inside the staged chunks; the driver only needs
    # the scalars (num_docs, avg_len, universe) — no num_docs-sized
    # collect
    srow = (
        spark.read.parquet(f"{out_dir}/doc_stats.parquet")
        .agg(F.count(F.lit(1)).alias("n"), F.avg("doc_len").alias("avg"),
             F.max("doc_id").alias("mx"))
        .collect()[0]
    )
    num_docs = int(srow["n"])
    avg_len = float(srow["avg"] or 0.0)
    universe = int(srow["mx"]) + 1 if srow["mx"] is not None else 0

    models_path = f"{out_dir}/models.pkl"
    if not os.path.exists(models_path):
        import pickle

        if codec in b_mod.ANS_CODEC_VARIANTS:
            models = b_mod.train_ans_models(
                staged, variant=b_mod.ANS_CODEC_VARIANTS[codec]
            )
        elif codec == "ans_packed":
            models = b_mod.train_ans_packed_models(staged)
        else:
            models = None
        with open(models_path, "wb") as fh:
            pickle.dump({"codec": codec, "models": models}, fh)
    else:
        import pickle

        with open(models_path, "rb") as fh:
            models = pickle.load(fh)["models"]

    codec_bundle = b_mod.IndexCodec(codec, models, num_docs=universe)
    codec_bc = spark.sparkContext.broadcast(codec_bundle)

    # ---- stage 2: per-part encode with checkpoints
    done: dict[int, dict] = {}
    if os.path.exists(ckpt_path):
        with open(ckpt_path) as fh:
            for line in fh:
                rec = json.loads(line)
                done[rec["part_id"]] = rec

    encoded_parts = 0
    skipped = 0
    for part_id in range(num_parts):
        lin = _lineage(spark, staged, part_id)
        prev = done.get(part_id)
        if prev and all(prev["lineage"][k] == lin[k] for k in lin):
            skipped += 1
            continue
        t_part = time.perf_counter()
        part_df = staged.where(F.col("part_id") == part_id).drop("part_id")
        out_path = f"{out_dir}/index.parquet/part={part_id}"
        part_df.mapInPandas(
            b_mod._encode_factory(codec_bc, avg_len), schema=b_mod.INDEX_SCHEMA
        ).write.mode("overwrite").parquet(out_path)
        stats_row = spark.read.parquet(out_path).agg(
            F.sum("n").alias("postings"), F.sum(F.length("payload")).alias("bytes")
        ).collect()[0]
        rec = {
            "part_id": part_id,
            "lineage": lin,
            "postings": int(stats_row["postings"] or 0),
            "payload_bytes": int(stats_row["bytes"] or 0),
            "elapsed_sec": round(time.perf_counter() - t_part, 3),
            "codec": codec,
            # the avg doc length the frozen max-weight bounds were
            # computed under — delta updates use it to inflate
            # stale bounds admissibly (part_bound_scales)
            "avg_len_at_encode": avg_len,
        }
        with open(ckpt_path, "a") as fh:
            fh.write(json.dumps(rec) + "\n")
        encoded_parts += 1
        if fail_after_parts is not None and encoded_parts >= fail_after_parts:
            raise BuildInterrupted(f"injected failure after {encoded_parts} parts")

    _refresh_path(spark, f"{out_dir}/index.parquet")
    total = spark.read.parquet(f"{out_dir}/index.parquet")
    # freeze the per-term WAND metadata like the non-resumable build
    b_mod.term_stats_agg(total).write.mode("overwrite").parquet(
        f"{out_dir}/term_stats.parquet"
    )
    agg = total.agg(
        F.sum("n").alias("postings"), F.sum(F.length("payload")).alias("bytes")
    ).collect()[0]
    metrics = {
        "codec": codec,
        "ngram": int(ngram),
        "num_docs": num_docs,
        "universe": universe,
        "avg_doc_len": avg_len,
        "num_parts": num_parts,
        "parts_encoded_this_run": encoded_parts,
        "parts_skipped_resume": skipped,
        "total_postings": int(agg["postings"] or 0),
        "payload_bytes": int(agg["bytes"] or 0),
        "bits_per_posting": (
            int(agg["bytes"] or 0) * 8 / int(agg["postings"] or 1)
        ),
        "build_sec": round(time.perf_counter() - t0, 3),
        "chunk_postings": chunk_postings,
    }
    _write_manifest_atomic(out_dir, metrics)
    return metrics


# ----------------------------------------------------------- delta updates

def part_bound_scales(out_dir: str, avg_len_now: float) -> dict[int, float]:
    """part_id -> admissible inflation for that part's frozen
    max-weight bounds.  >1 only when the corpus average doc length has
    GROWN since the part was encoded: for BM25's doc weight
    ``f/(f + A + B*len/avg)`` (A=k1(1-b), B=k1*b, bm25.hpp:22),
    ``w(avg1) <= w(avg0) * avg1/avg0`` for avg1 >= avg0 (multiply the
    avg0 denominator by avg1/avg0 >= 1 termwise), so scaling the old
    bound by the avg ratio stays an upper bound on every new weight.
    A 1e-6 relative margin absorbs the float32 re-rounding of the
    inflated bounds."""
    return _bound_scales(_read_ckpt(out_dir), avg_len_now)


def _bound_scales(done: dict[int, dict], avg_len_now: float) -> dict[int, float]:
    """`part_bound_scales` over in-memory checkpoint records."""
    return {
        int(p): (avg_len_now / r["avg_len_at_encode"]) * (1.0 + 1e-6)
        for p, r in done.items()
        if r.get("avg_len_at_encode") and avg_len_now > r["avg_len_at_encode"]
    }


def _swap_dir_write(df: DataFrame, final_dir: str) -> None:
    """Materialize ``df`` at ``final_dir`` when df is derived from a
    READ of final_dir (Spark cannot overwrite its own input): write a
    hidden tmp dir, move the old dir aside as ``.bak_swap``, promote
    the tmp, drop the bak.  NOT atomic — a crash between the renames
    leaves final_dir missing with the bak intact; `_recover_swaps`
    restores it on the next run.  On an object store the same pattern
    is a new prefix + a manifest pointer flip."""
    import shutil

    parent, base = os.path.split(final_dir.rstrip("/"))
    tmp = os.path.join(parent, f".{base}.tmp_swap")
    bak = os.path.join(parent, f".{base}.bak_swap")
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(bak, ignore_errors=True)
    df.write.mode("overwrite").parquet(tmp)
    if os.path.exists(final_dir):
        os.rename(final_dir, bak)
    os.rename(tmp, final_dir)
    shutil.rmtree(bak, ignore_errors=True)


def _recover_swaps(roots: list[str]) -> None:
    """Heal interrupted `_swap_dir_write`s: a ``.bak_swap`` whose final
    dir is missing is moved back; stray tmp/bak side dirs are removed.
    The dot prefix keeps Spark partition discovery blind to them."""
    import shutil

    for root in roots:
        if not os.path.isdir(root):
            continue
        for name in os.listdir(root):
            path = os.path.join(root, name)
            if name.startswith(".") and name.endswith(".bak_swap"):
                final = os.path.join(root, name[1:-len(".bak_swap")])
                if os.path.exists(final):
                    shutil.rmtree(path, ignore_errors=True)
                else:
                    os.rename(path, final)
            elif name.startswith(".") and name.endswith(".tmp_swap"):
                shutil.rmtree(path, ignore_errors=True)


def _apply_commit(journal: str) -> None:
    import shutil

    try:
        with open(journal) as fh:
            pairs = json.load(fh)["renames"]
    except (json.JSONDecodeError, KeyError):
        # torn journal write: the commit never started (the journal is
        # fsynced BEFORE the first rename) — discard it
        os.remove(journal)
        return
    for src, dst in pairs:
        # roll FORWARD only: a pair whose src is gone already renamed
        # (dst is the new state — never touch it on replay).  The old
        # dst moves ASIDE by rename (atomic) so a reader's exposure is
        # two renames, never a partially-deleted tree; asides are
        # swept after the journal completes.
        if os.path.exists(src):
            aside = f"{dst}.pre_commit"
            shutil.rmtree(aside, ignore_errors=True)
            if os.path.exists(aside):
                os.remove(aside)
            if os.path.exists(dst):
                os.rename(dst, aside)
            os.rename(src, dst)
    for _, dst in pairs:
        aside = f"{dst}.pre_commit"
        if os.path.isdir(aside):
            shutil.rmtree(aside, ignore_errors=True)
        elif os.path.exists(aside):
            os.remove(aside)
    os.remove(journal)


def _commit_renames(out_dir: str, pairs: list[tuple[str, str]]) -> None:
    """Atomic-enough multi-artifact commit: fsync a journal listing the
    renames, then execute them (each rename is atomic; the set is made
    all-or-nothing by roll-forward).  A crash before the journal write
    leaves the OLD state fully live (scratch dirs are invisible); a
    crash after it is healed by `_recover_commit` at the next locked
    maintenance op, which replays the remaining renames.  The unsafe
    window for concurrent readers is the few milliseconds of renames —
    not the whole rebuild, which stays in dot-prefixed scratch paths."""
    journal = f"{out_dir}/.commit_journal.json"
    with open(journal, "w") as fh:
        json.dump({"renames": [[s, d] for s, d in pairs]}, fh)
        fh.flush()
        os.fsync(fh.fileno())
    _apply_commit(journal)


def _recover_commit(out_dir: str) -> None:
    """Complete a crashed `_commit_renames` (called by every locked
    maintenance op before reading index state).  Only writers call
    this: a live writer's own in-flight journal can never be seen here
    because commits happen under the same single-writer lock."""
    journal = f"{out_dir}/.commit_journal.json"
    if os.path.exists(journal):
        _apply_commit(journal)


def _write_manifest_atomic(out_dir: str, man: dict) -> None:
    """Replace manifest.json atomically: a concurrent reader sees the
    old or the new manifest, never a truncated half-write; the fresh
    inode also stamps every committed state for snapshot_index."""
    path = f"{out_dir}/manifest.json"
    tmp = f"{path}.tmp.{os.getpid()}"
    with open(tmp, "w") as fh:
        json.dump(man, fh, indent=2)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, path)


def _link_tree(src: str, dst: str) -> None:
    """Hardlink-copy a directory tree (parquet files are immutable, so
    links are safe); falls back to byte copies where link() is
    unsupported."""
    import shutil

    os.makedirs(dst, exist_ok=True)
    for name in os.listdir(src):
        s, d = os.path.join(src, name), os.path.join(dst, name)
        if os.path.isdir(s):
            _link_tree(s, d)
        else:
            try:
                os.link(s, d)
            except OSError:
                shutil.copy2(s, d)


def _live_delta_pids(out_dir: str, num_parts: int) -> list[int]:
    """Delta part ids (>= num_parts) present in the LIVE index tree —
    disk truth, independent of the manifest's possibly-lagging
    ``delta_segments`` counter."""
    root = f"{out_dir}/index.parquet"
    pids = []
    if os.path.isdir(root):
        for name in os.listdir(root):
            if name.startswith("part="):
                try:
                    pid = int(name.split("=", 1)[1])
                except ValueError:
                    continue
                if pid >= num_parts:
                    pids.append(pid)
    return sorted(pids)


def _read_ckpt(out_dir: str) -> dict[int, dict]:
    """part_id -> its ``checkpoints.jsonl`` record (last line wins)."""
    done: dict[int, dict] = {}
    path = f"{out_dir}/checkpoints.jsonl"
    if os.path.exists(path):
        with open(path) as fh:
            for line in fh:
                rec = json.loads(line)
                done[int(rec["part_id"])] = rec
    return done


def _write_ckpt(path: str, done: dict[int, dict]) -> None:
    with open(path, "w") as fh:
        for pid in sorted(done):
            fh.write(json.dumps(done[pid]) + "\n")


def _ckpt_totals(done: dict[int, dict]) -> dict:
    """The manifest's global size metrics, summed from the per-part
    records — each record holds its part's postings and payload bytes
    as encoded, so no aggregate over the index is needed."""
    postings = sum(int(r.get("postings", 0)) for r in done.values())
    nbytes = sum(int(r.get("payload_bytes", 0)) for r in done.values())
    return dict(
        total_postings=postings,
        payload_bytes=nbytes,
        bits_per_posting=nbytes * 8 / (postings or 1),
    )


def _encode_to(df: DataFrame, codec_bc, avg_len: float,
               dest: str) -> tuple[int, int]:
    """Encode staged chunks ``df`` into the index part dir ``dest`` (a
    `_swap_dir_write`) and return the part's (postings, payload
    bytes), observed on the write itself — no read-back aggregate
    job.  A delta segment's staged part is one or a few
    files: a round-robin split spreads the python encode over every
    core (each payload depends on its own row only, so the split moves
    rows between files, never bytes within a payload)."""
    from pyspark.sql import Observation

    obs = Observation()
    spread = df.repartition(df.sparkSession.sparkContext.defaultParallelism)
    enc = spread.mapInPandas(
        b_mod._encode_factory(codec_bc, avg_len), schema=b_mod.INDEX_SCHEMA
    ).observe(
        obs, F.sum("n").alias("postings"),
        F.sum(F.length("payload")).alias("bytes"),
    )
    _swap_dir_write(enc, dest)
    got = obs.get
    return int(got["postings"] or 0), int(got["bytes"] or 0)


def _segment_models(codec: str, chunks: DataFrame):
    """Fresh models for one delta segment's staged chunks (ANS
    families), or None for model-free codecs.  The staged part is one
    or a few files, so the count partials merge on the driver."""
    if codec in b_mod.ANS_CODEC_VARIANTS:
        return b_mod.train_ans_models(
            chunks, variant=b_mod.ANS_CODEC_VARIANTS[codec], fanin=1
        )
    if codec == "ans_packed":
        return b_mod.train_ans_packed_models(chunks)
    return None


def _staged_tf(staged: DataFrame) -> DataFrame:
    """Staging chunk rows back to ``(term, doc_id, tf, doc_len)`` —
    the lengths ride in the chunks, so re-chunking them needs no
    doc_stats join."""
    return staged.select(
        "term", F.explode(F.arrays_zip("doc_ids", "freqs", "doc_lens")).alias("z")
    ).select(
        "term",
        F.col("z.doc_ids").alias("doc_id"),
        F.col("z.freqs").cast("int").alias("tf"),
        F.col("z.doc_lens").alias("doc_len"),
    )


class UpdateInProgress(RuntimeError):
    pass


def _refresh_path(spark, path: str) -> None:
    """Invalidate/re-list any cached relations under ``path``.

    Spark's CacheManager matches parquet scans by canonicalized plan
    (path + schema), NOT by file listing: once the caller has cached a
    load_index frame, every later ``spark.read.parquet(path)`` in the
    same session — including reads issued INSIDE a mutator after it
    wrote new files — is silently served from that cache.  Observed
    live: update_index_delta's sidecar refresh read the caller's
    cached pre-delta index and froze a term_stats.parquet MISSING
    every delta-only term (delta docs invisible to term-driven query
    paths)."""
    from partitioned_ef_ans_spark.index import query as _q_mod

    # any refresh means "disk may have changed": kill the
    # frame-attached whole-index payload memo too (the giant-query
    # routing short-circuit) — a delta update can grow an index past
    # the docpart budget and the memo must not outlive that
    _q_mod.bump_payload_epoch()
    # a path that does not exist (yet) is a no-op, not an error
    spark.catalog.refreshByPath(path)


def _locked(fn):
    """Run ``fn(spark, out_dir, ...)`` under the directory's
    single-writer update lock.  Cached relations under the directory
    are refreshed on entry (so the mutator reads disk truth, not a
    caller's stale cache) and on exit (so post-mutation readers see
    the new segments) — see _refresh_path."""
    import functools

    @functools.wraps(fn)
    def wrapper(spark, out_dir, *args, **kwargs):
        with _update_lock(out_dir):
            _refresh_path(spark, out_dir)
            try:
                out = fn(spark, out_dir, *args, **kwargs)
            finally:
                # refresh even when the mutator raises: a partial
                # commit may have swapped files on disk, and the entry
                # refresh re-cached the PRE-mutation listing for any
                # caller-cached frame — readers must not keep serving
                # that view.  INSIDE the with-block on purpose: if the
                # LOCK acquisition failed (another writer mid-swap),
                # nothing was mutated here and refreshing would re-pin
                # a torn in-flight listing for this session's caches.
                _refresh_path(spark, out_dir)
        return out

    return wrapper


#: lock paths held by THIS process (threads of one driver — e.g. two
#: foreachBatch streams on the same index — must also exclude each
#: other; the pid file alone cannot tell them apart)
_HELD_LOCKS: set[str] = set()
_HELD_LOCKS_GUARD = __import__("threading").Lock()


#: lease length for the writer lock: a holder heartbeats the lock
#: file's mtime every ``ttl/4``; a contender on a DIFFERENT host (where
#: pids mean nothing) treats the lock as stale only once the heartbeat
#: is older than the ttl.  Same-host dead pids are taken over at once.
_LOCK_LEASE_TTL = 60.0


class _update_lock:
    """Single-writer guard for an index directory: two concurrent
    updates/compactions would race the part swaps.

    Acquisition writes the holder record ``pid host acquired_ts`` to a
    unique temp file and ``os.link``s it to the lock path, so the
    content is atomic WITH the creation — a contender can never read a
    momentarily-empty lock and mistake a live holder for dead (falls
    back to O_EXCL + fsync'd write where link() is unsupported, and an
    empty/unparsable record is then treated as ALIVE with a short
    retry, never deleted).

    Liveness is a lease, not bare pids: the holder heartbeats the lock
    mtime from a daemon thread; a same-host holder is additionally
    checked with ``kill(pid, 0)`` (EPERM = exists under another uid =
    alive).  A cross-host record — where pids are meaningless, e.g. a
    shared NFS/object-store mount — is stale only when its heartbeat
    has exceeded ``_LOCK_LEASE_TTL``.  Takeover renames the stale file
    to a graveyard name first, so of N racing contenders only the one
    whose rename succeeds may re-acquire."""

    def __init__(self, out_dir: str, ttl: float = _LOCK_LEASE_TTL):
        self.path = f"{out_dir}/.update_lock"
        self.ttl = ttl
        self._hb_stop = None
        self._hb_thread = None
        #: set by the heartbeat when the lock file no longer carries
        #: OUR record (lease expired and a contender took over, or the
        #: file vanished).  A lost holder must not delete the usurper's
        #: lock on exit — and long critical sections can poll it.
        self.lost = False
        self._my_record: str | None = None

    def _record(self) -> str:
        import socket
        import time as _t
        import uuid

        # the trailing uuid makes the record a unique ownership token:
        # heartbeat/exit/takeover compare CONTENT, never just pid/host
        # (two same-pid records from different incarnations differ)
        return (
            f"{os.getpid()} {socket.gethostname()} {_t.time():.3f} "
            f"{uuid.uuid4().hex}"
        )

    def _try_acquire(self) -> bool:
        tmp = f"{self.path}.{os.getpid()}.{id(self)}.tmp"
        record = self._record()
        with open(tmp, "w") as fh:
            fh.write(record)
            fh.flush()
            os.fsync(fh.fileno())
        try:
            os.link(tmp, self.path)
            self._my_record = record
            self.lost = False
            return True
        except FileExistsError:
            return False
        except OSError:
            # link() unsupported (some FUSE/object-store mounts):
            # O_EXCL create, content written before close — the
            # empty-read window is closed on the READER side instead
            # (empty record == alive + brief retry)
            try:
                fd = os.open(self.path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            except FileExistsError:
                return False
            with os.fdopen(fd, "w") as fh:
                fh.write(record)
                fh.flush()
                os.fsync(fh.fileno())
            self._my_record = record
            self.lost = False
            return True
        finally:
            try:
                os.remove(tmp)
            except FileNotFoundError:
                pass

    def _holder_state(self) -> tuple[bool, str, str]:
        """(alive, description, raw_record) for the current lock file.
        Missing file -> dead (retryable); empty/unparsable -> alive (a
        writer mid-create on a non-link fallback — never delete it).
        ``raw_record`` is the exact content the verdict was based on:
        takeover re-checks it AFTER the claiming rename so a verdict
        reached on a stale read can never kill a fresh lock."""
        import socket
        import time as _t

        try:
            raw = open(self.path).read().strip()
            mtime = os.stat(self.path).st_mtime
        except (FileNotFoundError, OSError):
            return False, "gone", ""
        parts = raw.split()
        pid = None
        if parts:
            try:
                pid = int(parts[0])
            except ValueError:
                pid = None
        if pid is None:
            # empty/unparsable: a writer mid-create on the non-link
            # fallback — alive while its lease is fresh, reclaimable
            # once the mtime ages past the ttl (crashed mid-create)
            age = __import__("time").time() - mtime
            if age > self.ttl:
                return False, f"abandoned mid-create record ({age:.0f}s old)", raw
            return True, "empty record (writer mid-create)", raw
        host = parts[1] if len(parts) > 1 else socket.gethostname()
        if host == socket.gethostname():
            # same host (legacy bare-pid records land here too):
            # pid liveness is authoritative
            try:
                os.kill(pid, 0)
                return True, f"pid {pid} alive on this host", raw
            except ProcessLookupError:
                return False, f"pid {pid} dead on this host", raw
            except PermissionError:
                return True, f"pid {pid} exists under another uid", raw
        # cross-host: only the heartbeat lease can decide
        age = _t.time() - mtime
        if age > self.ttl:
            return False, f"lease from {host} expired ({age:.0f}s > {self.ttl:.0f}s)", raw
        return True, f"lease from {host} fresh ({age:.0f}s old)", raw

    def _start_heartbeat(self):
        import threading

        self._hb_stop = threading.Event()

        def beat(stop=self._hb_stop, path=self.path, period=self.ttl / 4):
            while not stop.wait(period):
                # ownership check BEFORE touching: after a legitimate
                # lease-expiry takeover (this process paused > ttl) the
                # path holds the USURPER's record — touching or later
                # deleting it would admit a third writer.  Content is
                # the token (unique uuid per acquisition).
                try:
                    raw = open(path).read().strip()
                except (FileNotFoundError, OSError):
                    self.lost = True
                    return
                if raw != self._my_record:
                    self.lost = True
                    return
                try:
                    os.utime(path)
                except (FileNotFoundError, OSError):
                    self.lost = True
                    return

        self._hb_thread = threading.Thread(target=beat, daemon=True)
        self._hb_thread.start()

    def __enter__(self):
        import time as _t

        with _HELD_LOCKS_GUARD:
            if self.path in _HELD_LOCKS:
                raise UpdateInProgress(
                    f"this process already holds {self.path}"
                )
            _HELD_LOCKS.add(self.path)
        try:
            for _attempt in range(3):
                if self._try_acquire():
                    self._start_heartbeat()
                    return self
                alive, why, judged_raw = self._holder_state()
                if alive and ("mid-create" in why or "unparsable" in why):
                    # give a non-link writer a beat to finish its
                    # write, then re-check before erroring
                    _t.sleep(0.2)
                    alive, why, judged_raw = self._holder_state()
                if alive:
                    raise UpdateInProgress(
                        f"another update holds {self.path}: {why}"
                    )
                # stale holder: claim it by RENAME (atomic — only one
                # of N contenders wins), then re-acquire
                grave = f"{self.path}.stale.{os.getpid()}.{id(self)}"
                try:
                    os.rename(self.path, grave)
                except FileNotFoundError:
                    continue  # another contender claimed it first
                # verify AFTER the claim: if the grave's record is not
                # the one we judged dead, a faster contender already
                # buried the stale lock and re-acquired — we just
                # renamed a FRESH lock.  Put it back (link only
                # succeeds while the path is free; if the victim
                # already re-created, drop our copy) and retry.
                try:
                    stolen_raw = open(grave).read().strip()
                except (FileNotFoundError, OSError):
                    stolen_raw = ""
                if stolen_raw != judged_raw:
                    try:
                        os.link(grave, self.path)
                    except (FileExistsError, OSError):
                        pass
                    try:
                        os.remove(grave)
                    except FileNotFoundError:
                        pass
                    _t.sleep(0.05)
                    continue
                try:
                    os.remove(grave)
                except FileNotFoundError:
                    pass
            raise UpdateInProgress(
                f"lost the takeover race for {self.path}"
            )
        except BaseException:
            with _HELD_LOCKS_GUARD:
                _HELD_LOCKS.discard(self.path)
            raise

    def __exit__(self, *exc):
        if self._hb_stop is not None:
            self._hb_stop.set()
            self._hb_thread.join(timeout=2)
        # remove only OUR record: after a lease-expiry takeover the
        # path belongs to the usurper — deleting it would let a third
        # writer in behind the usurper's back
        try:
            raw = open(self.path).read().strip()
            if raw == self._my_record:
                os.remove(self.path)
        except (FileNotFoundError, OSError):
            pass
        with _HELD_LOCKS_GUARD:
            _HELD_LOCKS.discard(self.path)
        return False


def _refresh_sidecars(
    spark: SparkSession, out_dir: str, man: dict,
    num_docs: int, avg_len: float, extra: dict,
) -> dict:
    """Refreeze term_stats.parquet from the bound-inflated index view
    (so ``max_term_weight`` stays an upper bound for stale parts) and
    rewrite the manifest with the new global scalars (size totals from
    the checkpoint records the caller just wrote).

    The index tree was mutated by the caller within this same job, so
    any cached relation over it (the caller's pre-mutation load_index
    frame, or the _locked entry-refresh recache) is stale NOW — drop
    it or this read would refreeze term_stats WITHOUT the new
    segments (the delta-only-terms-invisible bug)."""
    _refresh_path(spark, f"{out_dir}/index.parquet")
    total = spark.read.parquet(f"{out_dir}/index.parquet")
    scales = part_bound_scales(out_dir, avg_len)
    if scales:
        total = b_mod.apply_bound_scales(total, scales)
    _swap_dir_write(b_mod.term_stats_agg(total), f"{out_dir}/term_stats.parquet")
    man.update(
        num_docs=num_docs,
        avg_doc_len=avg_len,
        **_ckpt_totals(_read_ckpt(out_dir)),
        **extra,
    )
    _write_manifest_atomic(out_dir, man)
    return man


# ------------------------------------------------------------- deletes
# Lucene-style tombstones: delete_docs records doc ids in a sidecar;
# every query path masks them (query.run_ranked/run_boolean
# ``tombstones=``) while corpus statistics stay frozen at build, so
# surviving docs' scores are unchanged by deletion.  compact_index
# folds tombstones physically (postings dropped, stats/models/universe
# recomputed) and resets the sidecar.  Updates never clear tombstones:
# the delta-update contract requires FRESH (monotone) doc ids, so
# a deleted id can never be legitimately re-added — re-ingesting a
# document is insert-under-new-id + delete-old-id, the LSM pattern.

TOMBSTONES_FILE = "tombstones.parquet"


def load_tombstones(out_dir: str):
    """Sorted unique int64 tombstone array, or None when the index has
    no (un-compacted) deletes.  Cheap enough per query batch: the set
    is bounded by deletes-since-last-compaction, and it is broadcast
    to workers anyway — when it outgrows broadcast comfort, compact."""
    import numpy as np
    import pyarrow.parquet as pq

    path = os.path.join(out_dir, TOMBSTONES_FILE)
    if not os.path.exists(path):
        return None
    ids = pq.read_table(path).column("doc_id").to_numpy()
    if not len(ids):
        return None
    return np.unique(ids.astype(np.int64))


def _write_tombstones(out_dir: str, ids) -> None:
    """Atomic replace: readers (and a crash) see the old or the new
    complete set, never a partial file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = os.path.join(out_dir, TOMBSTONES_FILE)
    tmp = f"{path}.tmp.{os.getpid()}"
    pq.write_table(
        pa.table({"doc_id": pa.array([int(x) for x in ids], type=pa.int64())}),
        tmp,
    )
    os.replace(tmp, path)


@_locked
def delete_docs(spark: SparkSession, out_dir: str, doc_ids) -> dict:
    """Tombstone ``doc_ids`` in the index at ``out_dir`` (single-writer
    locked, crash-safe: one atomic sidecar replace).  Ids outside the
    index's docID universe are ignored (they cannot appear in any
    posting list).  Idempotent: re-deleting is a no-op union."""
    import numpy as np

    _recover_commit(out_dir)
    with open(f"{out_dir}/manifest.json") as fh:
        man = json.load(fh)
    universe = int(man.get("universe", man["num_docs"]))
    req = np.unique(np.asarray(list(doc_ids), dtype=np.int64))
    in_uni = req[(req >= 0) & (req < universe)]
    prev = load_tombstones(out_dir)
    merged = (
        in_uni if prev is None else np.union1d(prev, in_uni)
    )
    _write_tombstones(out_dir, merged)
    return {
        "requested": int(len(req)),
        "ignored_out_of_universe": int(len(req) - len(in_uni)),
        "tombstones_total": int(len(merged)),
        "previously": 0 if prev is None else int(len(prev)),
    }


# ------------------------------------------------------------ shard merge

def merge_indexes(
    spark: SparkSession,
    out_dir: str,
    src_dirs: list[str],
    num_parts: int = 8,
    chunk_postings: int | None = None,
    mode: str = "rebuild",
) -> dict:
    """Merge independently built resumable-layout indexes into one —
    the per-shard parallel-build pattern for corpora too large for one
    global build: each shard's index builds with NO cross-shard
    shuffle, and the merge re-chunks + re-encodes from the shards'
    STAGED postings, skipping tokenization entirely (the dominant
    build cost).  Requirements: one shared codec, disjoint docID
    spaces (verified — re-sharding overlapping corpora is the caller's
    job).  Each source is read through a pinned snapshot, so a shard
    may keep taking updates while it is being merged.  Source
    tombstones fold in (deleted docs are dropped, like compaction).

    Crash-safe the same way build_index_resumable is: the synthesized
    staging + doc_stats land first (idempotent overwrite), then the
    shared stage-2 machinery (model train, per-part encode
    checkpoints, sidecars, manifest-last) resumes exactly.

    ``mode="concat"`` is the O(compressed-bytes) Lucene-style segment
    append: no re-encoding at all — each source's segments become
    delta segments of the target (chunk_id seg bits remapped, payload
    bytes untouched, per-segment models carried over, per-part
    ``avg_len_at_encode`` preserved so bound inflation stays
    admissible under the merged average).  Requires ordered disjoint
    docID RANGES (max id of each source < min id of the next — chunk
    concatenation order must equal doc order) and a universe-free
    codec family (EF layouts depend on the global universe; use
    rebuild).  Source tombstones stay as a mask (union sidecar), not
    a fold.  A later compact_index normalizes everything."""
    os.makedirs(out_dir, exist_ok=True)  # lock lives inside out_dir
    with _update_lock(out_dir):
        _refresh_path(spark, out_dir)  # see _locked: stale-cache guard
        try:
            if mode == "concat":
                out = _merge_concat_locked(spark, out_dir, src_dirs)
            elif mode != "rebuild":
                raise ValueError(f"unknown merge mode {mode!r}")
            else:
                out = _merge_indexes_locked(
                    spark, out_dir, src_dirs, num_parts, chunk_postings
                )
        finally:
            # exception-safe like _locked: a merge that raises
            # mid-commit may have swapped files already — readers
            # must not keep serving the pre-merge cached listing
            _refresh_path(spark, out_dir)
    return out


def _merge_indexes_locked(
    spark, out_dir, src_dirs, num_parts, chunk_postings
) -> dict:
    import pickle

    staging = f"{out_dir}/staging_postings.parquet"
    if not src_dirs:
        raise ValueError("merge_indexes needs at least one source")

    # codec + chunk size derive from the sources the same way on a
    # fresh run and on a crash-resume (manifest reads are atomic)
    codecs, chunk_sizes, ngrams = set(), set(), set()
    for s in src_dirs:
        with open(f"{s}/models.pkl", "rb") as fh:
            codecs.add(pickle.load(fh)["codec"])
        with open(f"{s}/manifest.json") as fh:
            _m = json.load(fh)
        chunk_sizes.add(int(_m["chunk_postings"]))
        ngrams.add(int(_m.get("ngram", 1)))
    if len(codecs) != 1:
        raise ValueError(f"sources use different codecs: {codecs}")
    if len(ngrams) != 1:
        raise ValueError(
            f"sources use different token rules (ngram): {sorted(ngrams)}"
        )
    codec = codecs.pop()
    if chunk_postings is None:
        chunk_postings = max(chunk_sizes)

    snaps = []
    try:
        if not os.path.exists(f"{staging}/_SUCCESS"):
            for s in src_dirs:
                snaps.append(snapshot_index(s))
            tfs, stats = [], []
            for src, snap in zip(src_dirs, snaps):
                staged_s = spark.read.parquet(
                    f"{snap}/staging_postings.parquet"
                )
                # (term, doc_id) is unique across a source's staging by
                # construction — builds and compactions write one list
                # per term, delta segments carry only fresh monotone
                # ids — so no
                # dedup shuffle is needed here (the decode-equality
                # tests against a fresh build would catch a violation)
                tf_s = staged_s.select(
                    "term",
                    F.explode(F.arrays_zip("doc_ids", "freqs")).alias("z"),
                ).select(
                    "term",
                    F.col("z.doc_ids").alias("doc_id"),
                    F.col("z.freqs").cast("int").alias("tf"),
                )
                st_s = spark.read.parquet(f"{snap}/doc_stats.parquet")
                # same guard as compact_index: a source whose crashed
                # update staged postings without their doc stats would
                # merge docs with missing/corrupt norms — make the
                # caller heal the source first (replays are exact)
                grow = staged_s.agg(
                    F.max(F.array_max("doc_ids"))
                ).collect()[0][0]
                gmx = st_s.agg(F.max("doc_id")).collect()[0][0]
                if grow is not None and (
                    gmx is None or int(grow) > int(gmx)
                ):
                    raise RuntimeError(
                        f"source {src} has staged postings without doc "
                        "stats (interrupted update) — replay the "
                        "interrupted batch on the source before merging"
                    )
                tomb = load_tombstones(snap)
                if tomb is not None:
                    tdf = spark.createDataFrame(
                        [(int(x),) for x in tomb], "doc_id long"
                    )
                    tf_s = tf_s.join(F.broadcast(tdf), "doc_id", "left_anti")
                    st_s = st_s.join(F.broadcast(tdf), "doc_id", "left_anti")
                tfs.append(tf_s)
                stats.append(st_s)

            from functools import reduce

            stats_u = reduce(lambda a, b: a.unionByName(b), stats)
            stats_u.write.mode("overwrite").parquet(
                f"{out_dir}/doc_stats.parquet"
            )
            stats_df = spark.read.parquet(f"{out_dir}/doc_stats.parquet")
            chk = stats_df.agg(
                F.count(F.lit(1)).alias("n"),
                F.count_distinct("doc_id").alias("nd"),
                F.max("doc_id").alias("mx"),
            ).collect()[0]
            if int(chk["n"]) != int(chk["nd"]):
                raise ValueError(
                    f"docID spaces overlap: {chk['n']} stats rows but "
                    f"{chk['nd']} distinct ids — re-shard the sources "
                    "onto disjoint id ranges before merging"
                )
            universe = int(chk["mx"]) + 1 if chk["mx"] is not None else 0
            tf_u = reduce(lambda a, b: a.unionByName(b), tfs)
            p_mod.build_postings(
                tf_u, num_docs=universe, chunk_postings=chunk_postings,
                doc_norms=stats_df,
            ).withColumn(
                "part_id", F.crc32(F.col("term")) % num_parts
            ).write.mode("overwrite").partitionBy("part_id").parquet(staging)
    finally:
        for snap in snaps:
            release_snapshot(snap)

    # stage 2 of the resumable build takes over: staging + doc_stats
    # exist, so tokenization is skipped and models/encode/sidecars/
    # manifest resume from checkpoints
    man = build_index_resumable(
        spark, None, out_dir, codec=codec, num_parts=num_parts,
        chunk_postings=chunk_postings, ngram=ngrams.pop(),
    )
    man["merged_from"] = list(src_dirs)
    _write_manifest_atomic(out_dir, man)
    return man


def _merge_concat_locked(spark, out_dir, src_dirs) -> dict:
    """Segment-append merge (see merge_indexes mode="concat").  All
    artifacts are rebuilt from scratch on every attempt and the
    manifest lands last, so a crashed attempt is simply redone — the
    work is hardlinks plus one untouched-payload column remap per
    source segment, cheap at any index size."""
    import pickle

    t0 = time.perf_counter()
    if not src_dirs:
        raise ValueError("merge_indexes needs at least one source")
    man_path = f"{out_dir}/manifest.json"
    if os.path.exists(man_path):
        with open(man_path) as fh:
            man = json.load(fh)
        if man.get("merged_from") == list(src_dirs) and man.get(
            "merge_mode"
        ) == "concat":
            return man  # idempotent rerun of a committed merge
        raise ValueError(f"{out_dir} already contains a different index")
    for name in (
        "index.parquet", "staging_postings.parquet", "doc_stats.parquet",
        "term_stats.parquet",
    ):
        shutil.rmtree(f"{out_dir}/{name}", ignore_errors=True)
    for name in ("models.pkl", "checkpoints.jsonl", TOMBSTONES_FILE):
        if os.path.exists(f"{out_dir}/{name}"):
            os.remove(f"{out_dir}/{name}")

    snaps = [snapshot_index(s) for s in src_dirs]
    try:
        metas = []
        for src, snap in zip(src_dirs, snaps):
            with open(f"{snap}/manifest.json") as fh:
                man_s = json.load(fh)
            with open(f"{snap}/models.pkl", "rb") as fh:
                side_s = pickle.load(fh)
            rng = spark.read.parquet(f"{snap}/doc_stats.parquet").agg(
                F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi"),
                F.count(F.lit(1)).alias("n"),
            ).collect()[0]
            # interrupted-update guard (see _merge_indexes_locked)
            smx = spark.read.parquet(
                f"{snap}/staging_postings.parquet"
            ).agg(F.max(F.array_max("doc_ids"))).collect()[0][0]
            if smx is not None and (
                rng["hi"] is None or int(smx) > int(rng["hi"])
            ):
                raise RuntimeError(
                    f"source {src} has staged postings without doc "
                    "stats (interrupted update) — replay the "
                    "interrupted batch on the source before merging"
                )
            metas.append(
                {"src": src, "snap": snap, "man": man_s, "side": side_s,
                 "lo": rng["lo"], "hi": rng["hi"]}
            )
        codecs = {m["side"]["codec"] for m in metas}
        if len(codecs) != 1:
            raise ValueError(f"sources use different codecs: {codecs}")
        ngrams = {int(m["man"].get("ngram", 1)) for m in metas}
        if len(ngrams) != 1:
            raise ValueError(
                f"sources use different token rules (ngram): {sorted(ngrams)}"
            )
        codec = codecs.pop()
        # EF families lay payloads out against the build-time universe:
        # appended segments carry their SOURCE's universe in
        # delta_universes and decode routes by segment (IndexCodec.seg)
        ef_family = codec in ("pef", "ef", "single", "uniform")
        metas.sort(key=lambda m: (m["lo"] if m["lo"] is not None else -1))
        for a, b in zip(metas, metas[1:]):
            if a["hi"] is None or b["lo"] is None or int(a["hi"]) >= int(
                b["lo"]
            ):
                raise ValueError(
                    "concat merge needs ordered disjoint docID ranges "
                    f"(source {a['src']} max {a['hi']} vs "
                    f"{b['src']} min {b['lo']}); use mode='rebuild'"
                )
        total_segs = sum(
            1 + int(m["man"].get("delta_segments", 0)) for m in metas
        )
        if total_segs - 1 > 2047:
            raise RuntimeError(
                f"concat merge would need {total_segs - 1} delta "
                "segments (chunk_id carries 2047 max) — compact the "
                "sources or use mode='rebuild'"
            )

        m0 = metas[0]
        num_parts = int(m0["man"]["num_parts"])
        chunk_postings = int(m0["man"]["chunk_postings"])
        # ---- source 0 carries over verbatim (hardlinks)
        _link_tree(
            f"{m0['snap']}/staging_postings.parquet",
            f"{out_dir}/staging_postings.parquet",
        )
        _link_tree(f"{m0['snap']}/index.parquet", f"{out_dir}/index.parquet")
        done: dict[int, dict] = {}
        with open(f"{m0['snap']}/checkpoints.jsonl") as fh:
            for line in fh:
                rec = json.loads(line)
                done[int(rec["part_id"])] = rec
        delta_models = dict(m0["side"].get("delta_models") or {})
        delta_universes = {
            int(k): int(v)
            for k, v in (m0["side"].get("delta_universes") or {}).items()
        }
        if ef_family and 0 not in delta_universes:
            # src0's payloads stay laid out against ITS universe, which
            # the union universe outgrows — seg 0 routes too
            delta_universes[0] = int(
                m0["man"].get("universe", m0["man"]["num_docs"])
            )
        next_seg = 1 + int(m0["man"].get("delta_segments", 0))

        # ---- every further source segment appends as a delta segment
        for m in metas[1:]:
            np_s = int(m["man"]["num_parts"])
            d_s = int(m["man"].get("delta_segments", 0))
            idx_s = spark.read.parquet(f"{m['snap']}/index.parquet")
            stg_s = spark.read.parquet(f"{m['snap']}/staging_postings.parquet")
            recs_s: dict[int, dict] = {}
            with open(f"{m['snap']}/checkpoints.jsonl") as fh:
                for line in fh:
                    rec = json.loads(line)
                    recs_s[int(rec["part_id"])] = rec
            base_avgs = [
                r["avg_len_at_encode"]
                for p, r in recs_s.items()
                if p < np_s and r.get("avg_len_at_encode")
            ]
            for s_src in range(0, d_s + 1):
                t_seg = next_seg
                next_seg += 1
                shift = (t_seg - s_src) << 20
                tgt_pid = num_parts + t_seg - 1
                seg_filter = (
                    F.shiftright(F.col("chunk_id"), 20) == F.lit(s_src)
                )
                sel = idx_s.where(seg_filter).drop("part").withColumn(
                    "chunk_id",
                    (F.col("chunk_id") + F.lit(shift)).cast("int"),
                )
                sel.write.mode("overwrite").parquet(
                    f"{out_dir}/index.parquet/part={tgt_pid}"
                )
                stg_s.where(seg_filter).drop("part_id").withColumn(
                    "chunk_id",
                    (F.col("chunk_id") + F.lit(shift)).cast("int"),
                ).write.mode("overwrite").parquet(
                    f"{out_dir}/staging_postings.parquet/part_id={tgt_pid}"
                )
                if s_src == 0:
                    models_t = m["side"]["models"]
                    # a base segment mixes its source's parts, whose
                    # bounds froze under per-part averages — the MIN
                    # inflates most, which keeps every bound admissible
                    avg_enc = min(base_avgs) if base_avgs else float(
                        m["man"]["avg_doc_len"]
                    )
                else:
                    models_t = (m["side"].get("delta_models") or {}).get(
                        s_src
                    )
                    src_rec = recs_s.get(np_s + s_src - 1, {})
                    avg_enc = src_rec.get(
                        "avg_len_at_encode", float(m["man"]["avg_doc_len"])
                    )
                if models_t is not None:
                    delta_models[t_seg] = models_t
                if ef_family:
                    # the appended payloads keep their source layout —
                    # including a source BASE segment whose own pinned
                    # universe (concat-merged or EF-delta-updated
                    # source) is smaller than its manifest universe
                    src_uni = {
                        int(k): int(v)
                        for k, v in (
                            m["side"].get("delta_universes") or {}
                        ).items()
                    }.get(int(s_src))
                    delta_universes[t_seg] = int(
                        src_uni
                        if src_uni is not None
                        else m["man"].get("universe", m["man"]["num_docs"])
                    )
                srow = spark.read.parquet(
                    f"{out_dir}/index.parquet/part={tgt_pid}"
                ).agg(
                    F.sum("n").alias("postings"),
                    F.sum(F.length("payload")).alias("bytes"),
                ).collect()[0]
                done[tgt_pid] = {
                    "part_id": tgt_pid,
                    "postings": int(srow["postings"] or 0),
                    "payload_bytes": int(srow["bytes"] or 0),
                    "codec": codec,
                    "avg_len_at_encode": avg_enc,
                    "delta_segment": t_seg,
                    "concat_from": m["src"],
                }

        side_out = {"codec": codec, "models": m0["side"]["models"]}
        if delta_models:
            side_out["delta_models"] = delta_models
        if delta_universes:
            side_out["delta_universes"] = delta_universes
        with open(f"{out_dir}/models.pkl", "wb") as fh:
            pickle.dump(side_out, fh)
        with open(f"{out_dir}/checkpoints.jsonl", "w") as fh:
            for pid in sorted(done):
                fh.write(json.dumps(done[pid]) + "\n")

        from functools import reduce

        stats_u = reduce(
            lambda a, b: a.unionByName(b),
            [
                spark.read.parquet(f"{m['snap']}/doc_stats.parquet")
                for m in metas
            ],
        )
        stats_u.write.mode("overwrite").parquet(f"{out_dir}/doc_stats.parquet")
        srow = spark.read.parquet(f"{out_dir}/doc_stats.parquet").agg(
            F.count(F.lit(1)).alias("n"), F.avg("doc_len").alias("avg"),
            F.max("doc_id").alias("mx"),
        ).collect()[0]
        tombs = [
            t for t in (load_tombstones(m["snap"]) for m in metas)
            if t is not None
        ]
        if tombs:
            import numpy as np

            _write_tombstones(
                out_dir, np.unique(np.concatenate(tombs))
            )

        man = dict(m0["man"])
        man.pop("merged_from", None)
        # term_stats refreeze + manifest-last commit, with bound scales
        # applied from the checkpoint records written above
        man = _refresh_sidecars(
            spark, out_dir, man, int(srow["n"]), float(srow["avg"] or 0.0),
            dict(
                universe=int(srow["mx"]) + 1 if srow["mx"] is not None else 0,
                num_parts=num_parts,
                chunk_postings=chunk_postings,
                delta_segments=next_seg - 1,
                merged_from=list(src_dirs),
                merge_mode="concat",
                merge_sec=round(time.perf_counter() - t0, 3),
            ),
        )
        return man
    finally:
        for snap in snaps:
            release_snapshot(snap)


# --------------------------------------------------------- read snapshots
# Writers are serialized by the lease lock, but readers are not: a
# query session that spans an update/compaction/delete commit could
# read a torn mix of old and new artifacts (Spark scans parquet
# lazily, so even a consistent load_index does not pin the bytes).
# snapshot_index pins one committed state by hardlinking the live
# tree — parquet files are immutable and every maintenance commit
# replaces whole files/dirs by rename, so links keep exactly one
# state's bytes alive at zero storage cost — and verifies the state
# could not have moved during the walk.

def _writer_active(out_dir: str, ttl: float = _LOCK_LEASE_TTL) -> bool:
    """A live writer lease exists (fresh heartbeat mtime).  A stale
    lease is NOT active: its holder is dead, the on-disk state is
    whatever it left behind, and waiting on a corpse would hang every
    reader."""
    try:
        st = os.stat(f"{out_dir}/.update_lock")
    except (FileNotFoundError, OSError):
        return False
    return (time.time() - st.st_mtime) <= ttl


def snapshot_index(out_dir: str, dest: str | None = None,
                   timeout: float = 120.0) -> str:
    """Pin a consistent read-only view of the index and return its
    path (pass it to build.load_index / kernel_latency_stats like the
    live dir).  Consistency protocol: the copy is accepted only if
    there was no live writer lease and no commit journal both before
    and after the hardlink walk AND the manifest file identity
    (inode, mtime_ns) did not move — every index-mutating op rewrites
    the manifest last via atomic replace, so an unchanged manifest
    brackets an unchanged committed state.  (delete_docs replaces only
    the tombstone sidecar — itself a single atomic file swap under the
    writer lease, so either side of it is a consistent view.)
    Otherwise the copy is discarded and retried until ``timeout``.

    POSIX-link filesystems only (local/HDFS-fuse/NFS); on object
    stores, quiesce writers and copy instead.  Release with
    ``release_snapshot`` when the reader session ends."""
    import uuid

    journal = f"{out_dir}/.commit_journal.json"
    manifest = f"{out_dir}/manifest.json"
    dest = dest or f"{out_dir}/.snap_{uuid.uuid4().hex[:12]}"
    deadline = time.monotonic() + timeout
    while True:
        try:
            if not (_writer_active(out_dir) or os.path.exists(journal)):
                st0 = os.stat(manifest)
                shutil.rmtree(dest, ignore_errors=True)
                os.makedirs(dest)
                for name in os.listdir(out_dir):
                    if name.startswith("."):
                        continue  # scratch trees, journal, lock, snaps
                    s = os.path.join(out_dir, name)
                    d = os.path.join(dest, name)
                    if os.path.isdir(s):
                        _link_tree(s, d)
                    else:
                        try:
                            os.link(s, d)
                        except OSError:
                            shutil.copy2(s, d)
                st1 = os.stat(manifest)
                if (
                    not (_writer_active(out_dir) or os.path.exists(journal))
                    and (st1.st_ino, st1.st_mtime_ns)
                    == (st0.st_ino, st0.st_mtime_ns)
                ):
                    return dest
                shutil.rmtree(dest, ignore_errors=True)
        except (FileNotFoundError, OSError):
            # a rename swept a file out from under the walk — retry
            shutil.rmtree(dest, ignore_errors=True)
        if time.monotonic() > deadline:
            raise TimeoutError(
                f"no quiescent index state within {timeout}s at {out_dir} "
                "(writer lease held or commits kept landing)"
            )
        time.sleep(0.2)


def release_snapshot(snap_dir: str) -> None:
    """Drop a snapshot's links (storage is reclaimed once no snapshot
    links a replaced file)."""
    shutil.rmtree(snap_dir, ignore_errors=True)


@_locked
def update_index_delta(
    spark: SparkSession,
    out_dir: str,
    new_docs: DataFrame,
    doc_col: str = "doc_id",
    text_col: str = "text",
    skip_stale: bool = False,
    max_segments: int | None = None,
) -> dict:
    """Fold new documents in as an LSM-style DELTA SEGMENT — O(batch)
    instead of O(touched postings).

    ``max_segments`` enables the tiered-merge policy (Lucene
    TieredMergePolicy analogue): when this update would take the
    committed segment count past it, the update writes the FOLDED
    segment in-line — the committed delta segments' staging rows plus
    the batch become one segment-1 list per term, committed together
    with the batch's doc stats by one journaled rename set (the same
    segment writer as `compact_deltas`).  Read amplification stays
    bounded without anyone scheduling compactions by hand, at
    O(live deltas) per fold (base parts are never re-read).  None
    (default) keeps the policy manual.

    This is the one update entry point.  Rebuilding every touched
    term's FULL list instead would cost nearly a rebuild per batch: on
    any Zipfian corpus a batch of new docs touches the head vocabulary
    — the longest lists.  The Lucene/LSM answer: new docs become a
    small self-contained segment; queries read base + deltas; deltas
    fold back at compaction (`compact_deltas`, or `compact_index` for
    the single-segment layout).

    Mechanics in this layout:
    - One pass over the batch: it is tokenized once into cached
      ``(doc_id, term, tf, doc_len)`` rows; the doc stats, the batch
      scalars and the chunks all derive from them.
    - The delta's chunks land in ``index.parquet/part=<num_parts+seg>``
      (and its staging rows in the same-numbered staging part).  A
      term's list is then the CONCATENATION of its base chunks and its
      delta chunks — already in doc order, because fresh doc_ids are
      greater than every base id and every query path orders chunks by
      (term, chunk_id): delta chunk_ids carry a ``seg << 20`` offset.
    - Per-term metadata stays correct WITHOUT touching base rows:
      query paths take df from the term-level term_stats aggregation
      (sum of chunk sizes — query_lists_df), which the sidecar refresh
      recomputes over base+delta; per-chunk pruning bounds are
      segment-local; a part encoded under an older, smaller avg_len
      has its bounds inflated at load (`part_bound_scales`).
    - ANS-family codecs train PER-SEGMENT models on the staged delta
      chunks (short delta lists select block-stat buckets the base
      models never saw, so frozen-model coverage would fail for almost
      any small batch); models.pkl carries ``delta_models[seg]`` and
      every decode path routes by the segment embedded in chunk_id
      (build.decode_lists_segmented).  EF families pin a PER-SEGMENT
      docID universe instead (``delta_universes[seg]`` — the same
      mechanism concat merges use): each segment's payloads stay laid
      out against the universe at its own encode time, segment 0
      keeps the base build's, and decode routes by segment exactly
      like models — so every one of the 16 codec families takes the
      O(batch) path.
    - Crash safety: a plain update's writes are deterministic directory
      swaps keyed by the segment number (which only advances in the
      manifest at the very end), doc stats append LAST, so a replay of
      the same batch overwrites the same directories — idempotent; a
      crash between the stats append and the manifest refresh is
      finalized by the next call.  A folding update builds its whole
      new state in scratch paths and commits once through
      `_commit_renames`: a crash before the journal leaves the old
      state (batch absent) fully live, a crash after it rolls forward.
    """
    import pickle

    import pyarrow as pa

    from partitioned_ef_ans_spark.session import ship_package

    ship_package(spark)
    t0 = time.perf_counter()
    staging = f"{out_dir}/staging_postings.parquet"
    stats_path = f"{out_dir}/doc_stats.parquet"
    _recover_commit(out_dir)
    _recover_swaps([staging, f"{out_dir}/index.parquet", out_dir])
    with open(f"{out_dir}/manifest.json") as fh:
        man = json.load(fh)
    with open(f"{out_dir}/models.pkl", "rb") as fh:
        side = pickle.load(fh)
    codec = side["codec"]
    num_parts = int(man["num_parts"])

    # ---- the committed corpus, from DISK truth: one aggregate over
    # doc_stats (a doc is committed iff its stats row landed)
    orow = spark.read.parquet(stats_path).agg(
        F.count(F.lit(1)).alias("n"), F.sum("doc_len").alias("len"),
        F.max("doc_id").alias("mx"),
    ).collect()[0]
    old_n, old_len, old_max = int(orow["n"]), int(orow["len"] or 0), orow["mx"]

    # ---- segment numbering from DISK truth, not just the manifest: a
    # prior delta that crashed between its doc-stats append and its
    # manifest refresh left a fully-committed segment with
    # ``delta_segments`` still at the old value — reusing its number
    # would silently overwrite its postings while its docs stay in
    # doc_stats.  A segment counts as committed iff its docs are in
    # doc_stats (max last_doc <= stats max); an UNcommitted on-disk
    # segment (crash before the stats append) is exactly the replay
    # case the deterministic same-number overwrite is designed for.
    committed = int(man.get("delta_segments", 0))
    for pid in _live_delta_pids(out_dir, num_parts):
        s = pid - num_parts + 1
        if s <= committed:
            continue
        part_mx = spark.read.parquet(
            f"{out_dir}/index.parquet/part={pid}"
        ).agg(F.max("last_doc")).collect()[0][0]
        if (
            part_mx is not None
            and old_max is not None
            and int(part_mx) <= int(old_max)
        ):
            committed = s
    seg = committed + 1
    # chunk_id carries the segment in bits 20+ of an int32: 2047 is the
    # last representable segment.  Fail LOUDLY before the cast would
    # wrap negative and scramble both routing and doc order.
    if seg > 2047:
        raise RuntimeError(
            f"delta segment limit reached ({seg-1}): run compact_index "
            "to fold the segments back before further delta updates"
        )
    delta_pid = num_parts + seg - 1

    # ---- freshness / replay filtering (at-least-once sources)
    if skip_stale and old_max is not None:
        new_docs = new_docs.where(F.col(doc_col) > old_max)
    # ---- tokenize ONCE (same token rule the index was built with —
    # shingle indexes delta-update like any other)
    tf = _batch_tf(
        new_docs, doc_col, text_col, int(man.get("ngram", 1))
    ).cache()
    try:
        lens = tf.select("doc_id", "doc_len").distinct().toArrow()
        if lens.num_rows == 0:
            if old_n != int(man["num_docs"]) or committed != int(
                man.get("delta_segments", 0)
            ):
                # a prior update crashed between its stats append and
                # its sidecar refresh — finalize it now
                uni = max(
                    int(man.get("universe", man["num_docs"])),
                    int(old_max) + 1 if old_max is not None else 0,
                )
                return _refresh_sidecars(
                    spark, out_dir, man, old_n,
                    old_len / old_n if old_n else 0.0,
                    {
                        "recovered_finalize": True,
                        "universe": uni,
                        # re-arm the counter the crashed finalize
                        # never wrote
                        "delta_segments": committed,
                    },
                )
            return {**man, "update_sec": 0.0, "parts_reencoded": 0}
        ids = lens.column("doc_id").to_numpy()
        doc_lens = lens.column("doc_len").to_numpy()
        if old_max is not None and int(ids.min()) <= int(old_max):
            raise ValueError(
                f"delta update needs fresh doc_ids (> {old_max}), got "
                f"min {int(ids.min())}"
            )
        # the batch scalars and the new global ones, on the driver
        # (integer length sums: avg is the same double Spark's avg
        # computes over the appended doc_stats)
        batch_len = int(doc_lens.sum())
        num_docs = old_n + len(ids)
        avg_len = (old_len + batch_len) / num_docs
        universe = max(
            int(man.get("universe", man["num_docs"])), int(ids.max()) + 1
        )
        # the batch's doc stats, normalized by the BATCH average exactly
        # like build_doc_stats (a local relation: no Spark job until
        # it is written)
        stats_new = spark.createDataFrame(
            pa.table({"doc_id": ids, "doc_len": doc_lens})
        ).select(
            "doc_id", "doc_len",
            (F.col("doc_len").cast("double") / F.lit(batch_len / len(ids)))
            .alias("norm_len"),
        )
        tf_batch = tf.where(F.col("term").isNotNull()).select(
            "doc_id", "term", "tf", "doc_len"
        )

        if max_segments is not None and committed >= 1 and seg > int(max_segments):
            # ---- tiered-merge policy, in-line: the committed delta
            # segments' staging rows plus the batch become ONE folded
            # segment, committed with the batch's doc stats in one
            # journal (the write of segment `seg` never happens)
            committed_rows = spark.read.parquet(staging).where(
                (F.col("part_id") >= num_parts) & (F.col("part_id") < delta_pid)
            )
            folded = _commit_fold(
                spark, out_dir, man, side,
                _staged_tf(committed_rows).unionByName(tf_batch),
                num_docs=num_docs, avg_len=avg_len, universe=universe,
                folded=seg, t0=t0, sec_key="update_sec", stats_new=stats_new,
            )
            folded["auto_minor_compacted"] = True
            return folded

        # ---- write the segment: staging rows FIRST, then models and
        # payloads both from the staged read (never the lazy plan)
        part_staging = f"{staging}/part_id={delta_pid}"
        _swap_dir_write(
            p_mod.build_postings(
                tf_batch, num_docs=universe,
                chunk_postings=int(man["chunk_postings"]),
            ).withColumn(
                # chunk ids above every base id: (term, chunk_id)
                # ordering == doc order across segments (fresh ids >
                # all base ids)
                "chunk_id", (F.lit(seg << 20) + F.col("chunk_id")).cast("int")
            ),
            part_staging,
        )
    finally:
        tf.unpersist()
    chunks = spark.read.parquet(part_staging)

    # ---- per-SEGMENT models — decode routes by the segment embedded
    # in chunk_id.  models.pkl gains delta_models[seg] BEFORE the index
    # part becomes visible: a crash in between leaves unused models
    # (harmless); the replay retrains deterministically and overwrites.
    seg_models = _segment_models(codec, chunks)
    side_dirty = False
    if seg_models is not None:
        side.setdefault("delta_models", {})[seg] = seg_models
        side_dirty = True
    if codec in ("pef", "ef", "single", "uniform"):
        # EF payloads are laid out against a docID universe: pin this
        # segment's at its encode universe, and the base's at the
        # pre-update one (first delta only — later updates find it
        # pinned), so decode routes each segment to its own layout
        # exactly like per-segment models (IndexCodec.seg).
        unis = side.setdefault("delta_universes", {})
        unis = {int(k): int(v) for k, v in unis.items()}
        if 0 not in unis:
            unis[0] = int(man.get("universe", man["num_docs"]))
        unis[seg] = int(universe)
        side["delta_universes"] = unis
        side_dirty = True
    if side_dirty:
        with open(f"{out_dir}/models.pkl", "wb") as fh:
            pickle.dump(side, fh)

    codec_bc = spark.sparkContext.broadcast(b_mod.IndexCodec(
        codec, seg_models if seg_models is not None else side["models"],
        num_docs=universe,
    ))
    postings, nbytes = _encode_to(
        chunks, codec_bc, avg_len,
        f"{out_dir}/index.parquet/part={delta_pid}",
    )
    done = _read_ckpt(out_dir)
    done[delta_pid] = {
        "part_id": delta_pid,
        "postings": postings,
        "payload_bytes": nbytes,
        "elapsed_sec": round(time.perf_counter() - t0, 3),
        "codec": codec,
        "avg_len_at_encode": avg_len,
        "delta_segment": seg,
    }
    _write_ckpt(f"{out_dir}/checkpoints.jsonl", done)

    # ---- doc stats visible LAST (replay filter), then sidecars
    stats_new.write.mode("append").parquet(stats_path)
    return _refresh_sidecars(
        spark, out_dir, man, num_docs, avg_len,
        dict(
            universe=universe,
            delta_segments=seg,
            update_sec=round(time.perf_counter() - t0, 3),
            parts_reencoded=0,
        ),
    )


def _batch_tf(docs: DataFrame, doc_col: str, text_col: str, ngram: int) -> DataFrame:
    """A delta batch's ``(doc_id, doc_len, term, tf)`` rows from one
    tokenization pass (the index's token rule).  A doc without tokens
    keeps one row with a null term and tf 0, so the per-doc lengths —
    empty docs included, as in build_doc_stats — come from the same
    rows as the postings."""
    from partitioned_ef_ans_spark.tokenizer import shingles_array, tokens_array

    text = F.col(text_col)
    arr = tokens_array(text) if ngram <= 1 else shingles_array(text, ngram)
    return docs.select(
        F.col(doc_col).alias("doc_id"),
        F.coalesce(arr, F.array().cast("array<string>")).alias("toks"),
    ).select(
        "doc_id",
        F.size("toks").cast("long").alias("doc_len"),
        F.explode_outer("toks").alias("term"),
    ).groupBy("doc_id", "doc_len", "term").agg(
        F.count("term").cast("int").alias("tf")
    )


def _commit_fold(
    spark: SparkSession, out_dir: str, man: dict, side: dict, tf: DataFrame,
    *, num_docs: int, avg_len: float, universe: int, folded: int,
    t0: float, sec_key: str, stats_new: DataFrame | None = None,
) -> dict:
    """Write the delta postings ``tf`` (``term, doc_id, tf, doc_len``)
    as the ONE folded segment 1 and commit it with a single journaled
    rename set — the segment writer of `compact_deltas` and of the
    in-line fold in `update_index_delta`.

    Every delta term's postings re-chunk into one doc-ordered list
    (segment 1: every delta id is greater than every base id, so
    (term, chunk_id) order stays doc order) and ANS families train
    fresh models on the staged fold.  Per-segment EF universes of
    folded segments collapse — the new segment encodes under
    ``universe`` (segment 0's pinned universe, if any, is kept).
    ``stats_new`` (an update's batch) joins the commit as a scratch
    doc_stats: the live files hardlinked plus the batch's, so the new
    postings and their stats become visible together.

    Crash safety: whole-tree scratch + the same journaled rename
    commit as compact_index — old state fully live until the commit,
    roll-forward on replay."""
    import pickle

    num_parts = int(man["num_parts"])
    codec = side["codec"]
    staging = f"{out_dir}/staging_postings.parquet"
    tgt_pid = num_parts  # segment 1's part
    sc_staging = f"{out_dir}/.minor_staging"
    sc_index = f"{out_dir}/.minor_index"
    sc_models = f"{out_dir}/.minor_models.pkl"
    sc_ckpt = f"{out_dir}/.minor_ckpt.jsonl"
    sc_tstats = f"{out_dir}/.minor_term_stats"
    sc_dstats = f"{out_dir}/.minor_doc_stats"
    sc_man = f"{out_dir}/.minor_manifest.json"
    for d in (sc_staging, sc_index, sc_tstats, sc_dstats):
        shutil.rmtree(d, ignore_errors=True)
    for f in (sc_models, sc_ckpt, sc_man):
        if os.path.exists(f):
            os.remove(f)

    # scratch staging: base parts hardlinked, folded part written FIRST
    # — models and payloads both come from its read
    os.makedirs(sc_staging)
    for pid in range(num_parts):
        src = f"{staging}/part_id={pid}"
        if os.path.isdir(src):
            _link_tree(src, f"{sc_staging}/part_id={pid}")
    for name in os.listdir(staging):
        src = os.path.join(staging, name)
        if os.path.isfile(src) and not name.startswith("."):
            try:
                os.link(src, os.path.join(sc_staging, name))
            except OSError:
                shutil.copy2(src, os.path.join(sc_staging, name))
    p_mod.build_postings(
        tf, num_docs=universe, chunk_postings=int(man["chunk_postings"]),
    ).withColumn(
        "chunk_id", (F.lit(1 << 20) + F.col("chunk_id")).cast("int")
    ).write.mode("overwrite").parquet(f"{sc_staging}/part_id={tgt_pid}")
    chunks = spark.read.parquet(f"{sc_staging}/part_id={tgt_pid}")

    # fresh models for the folded segment (short-list block stats)
    seg_models = _segment_models(codec, chunks)

    # scratch index: base part dirs hardlinked, folded segment encoded
    os.makedirs(sc_index)
    for pid in range(num_parts):
        src = f"{out_dir}/index.parquet/part={pid}"
        if os.path.isdir(src):
            _link_tree(src, f"{sc_index}/part={pid}")
    codec_bc = spark.sparkContext.broadcast(b_mod.IndexCodec(
        codec, seg_models if seg_models is not None else side["models"],
        num_docs=universe,
    ))
    postings, nbytes = _encode_to(
        chunks, codec_bc, avg_len, f"{sc_index}/part={tgt_pid}"
    )

    # checkpoints: base records kept verbatim, folded record replaces
    # every delta record (their avg_len_at_encode scaling with them)
    done = {p: r for p, r in _read_ckpt(out_dir).items() if p < num_parts}
    done[tgt_pid] = {
        "part_id": tgt_pid,
        "postings": postings,
        "payload_bytes": nbytes,
        "codec": codec,
        "avg_len_at_encode": avg_len,
        "delta_segment": 1,
        "folded_segments": folded,
    }
    _write_ckpt(sc_ckpt, done)
    side_out = {"codec": codec, "models": side["models"]}
    if seg_models is not None:
        side_out["delta_models"] = {1: seg_models}
    old_unis = {
        int(k): int(v)
        for k, v in (side.get("delta_universes") or {}).items()
    }
    new_unis = {}
    if 0 in old_unis:
        new_unis[0] = old_unis[0]  # base layout's pinned universe
    if codec in ("pef", "ef", "single", "uniform"):
        # the folded segment encodes under TODAY's universe; later
        # delta updates may grow the manifest universe, so pin it
        new_unis[1] = int(universe)
    if new_unis:
        side_out["delta_universes"] = new_unis
    with open(sc_models, "wb") as fh:
        pickle.dump(side_out, fh)

    # term_stats from the scratch view with bound scales from the NEW
    # checkpoint records (stale base parts must stay upper bounds) —
    # refrozen over the whole index: the scales move with avg_len
    total_new = spark.read.parquet(sc_index)
    scales = _bound_scales(done, avg_len)
    if scales:
        total_new = b_mod.apply_bound_scales(total_new, scales)
    b_mod.term_stats_agg(total_new).write.mode("overwrite").parquet(sc_tstats)
    renames = [
        (sc_staging, staging),
        (sc_index, f"{out_dir}/index.parquet"),
        (sc_models, f"{out_dir}/models.pkl"),
        (sc_ckpt, f"{out_dir}/checkpoints.jsonl"),
        (sc_tstats, f"{out_dir}/term_stats.parquet"),
    ]
    if stats_new is not None:
        _link_tree(f"{out_dir}/doc_stats.parquet", sc_dstats)
        stats_new.write.mode("append").parquet(sc_dstats)
        renames.append((sc_dstats, f"{out_dir}/doc_stats.parquet"))

    man_new = dict(man)
    man_new.update(
        num_docs=num_docs,
        avg_doc_len=avg_len,
        **_ckpt_totals(done),
        universe=universe,
        delta_segments=1,
        minor_compactions=int(man.get("minor_compactions", 0)) + 1,
        folded_segments=folded,
    )
    man_new[sec_key] = round(time.perf_counter() - t0, 3)
    with open(sc_man, "w") as fh:
        json.dump(man_new, fh, indent=2)
    renames.append((sc_man, f"{out_dir}/manifest.json"))
    _commit_renames(out_dir, renames)
    return man_new


@_locked
def compact_deltas(spark: SparkSession, out_dir: str) -> dict:
    """MINOR compaction: fold all live delta segments into ONE fresh
    segment — O(live delta postings), never O(index).  The Lucene
    tiered-merge middle ground between O(batch) delta updates and the
    O(index) `compact_index`: the read-side segment count (and its
    measured per-chunk amplification, BENCH.md) stays bounded while
    base parts are never read, re-encoded, or re-chunked.  The folded
    segment is written by `_commit_fold` (shared with the in-line fold
    of `update_index_delta` ``max_segments``).  Tombstones are
    untouched: masked postings ride along and only the major
    compaction purges them."""
    import pickle

    from partitioned_ef_ans_spark.session import ship_package

    ship_package(spark)
    t0 = time.perf_counter()
    staging = f"{out_dir}/staging_postings.parquet"
    _recover_commit(out_dir)
    _recover_swaps([staging, f"{out_dir}/index.parquet", out_dir])
    with open(f"{out_dir}/manifest.json") as fh:
        man = json.load(fh)
    num_parts = int(man["num_parts"])
    with open(f"{out_dir}/models.pkl", "rb") as fh:
        side = pickle.load(fh)
    delta_pids = _live_delta_pids(out_dir, num_parts)
    if len(delta_pids) <= 1:
        return {**man, "minor_compact_sec": 0.0, "folded_segments": 0}

    srow = spark.read.parquet(f"{out_dir}/doc_stats.parquet").agg(
        F.count(F.lit(1)).alias("n"), F.avg("doc_len").alias("avg"),
        F.max("doc_id").alias("mx"),
    ).collect()[0]
    universe = max(
        int(man.get("universe", man["num_docs"])),
        int(srow["mx"]) + 1 if srow["mx"] is not None else 0,
    )
    deltas = spark.read.parquet(staging).where(F.col("part_id") >= num_parts)
    dmx = deltas.agg(F.max(F.array_max("doc_ids"))).collect()[0][0]
    if dmx is not None and int(dmx) >= universe:
        raise RuntimeError(
            f"delta staging contains doc_id {dmx} beyond the stats "
            f"universe {universe} — an interrupted update left postings "
            "without their doc stats; replay the interrupted batch "
            "first (replays are exact) before compacting"
        )
    # ((term, doc_id) unique across staging by invariant)
    return _commit_fold(
        spark, out_dir, man, side, _staged_tf(deltas),
        num_docs=int(srow["n"]), avg_len=float(srow["avg"] or 0.0),
        universe=universe, folded=len(delta_pids), t0=t0,
        sec_key="minor_compact_sec",
    )


@_locked
def compact_index(spark: SparkSession, out_dir: str) -> dict:
    """Full re-encode of a resumable-layout index from its staging
    table with freshly retrained models — the MAJOR compaction after a
    chain of delta updates: every delta segment folds back into the
    hash parts (the single-segment layout of a fresh build), the
    per-segment models and universes give way to one retrained set,
    and the stale-bound inflation of base parts encoded under an older
    avg_len goes away.  Compaction retrains, re-encodes every part under
    the CURRENT avg_doc_len, and resets every part's
    ``avg_len_at_encode`` — after it, `part_bound_scales` is empty and
    bits/posting returns to build-fresh.

    Crash safety: the ENTIRE new state (folded staging, re-encoded
    index tree, models, checkpoints, term_stats, manifest) is built in
    dot-prefixed scratch paths while the live index stays fully
    consistent and delta-inclusive; the switch is a journaled rename
    commit (`_commit_renames`) that rolls forward on replay.  At no
    crash point does the live tree hold delta-less hash parts with
    delta dirs already removed (the silent-missing-postings window of
    a mutate-in-place fold), nor new payloads under old models."""
    import pickle
    import shutil

    from partitioned_ef_ans_spark.session import ship_package

    ship_package(spark)
    t0 = time.perf_counter()
    staging = f"{out_dir}/staging_postings.parquet"
    _recover_commit(out_dir)
    _recover_swaps([staging, f"{out_dir}/index.parquet", out_dir])
    with open(f"{out_dir}/manifest.json") as fh:
        man = json.load(fh)
    num_parts = int(man["num_parts"])
    with open(f"{out_dir}/models.pkl", "rb") as fh:
        side = pickle.load(fh)
    codec = side["codec"]
    staged = spark.read.parquet(staging)
    stats_all = spark.read.parquet(f"{out_dir}/doc_stats.parquet")
    srow_all = stats_all.agg(
        F.count(F.lit(1)).alias("n"), F.avg("doc_len").alias("avg"),
        F.max("doc_id").alias("mx"),
    ).collect()[0]
    # the interrupted-update guard runs against the UNFILTERED universe
    # (tombstoned ids are still legitimately present in staging)
    guard_universe = max(
        int(man.get("universe", man["num_docs"])),
        int(srow_all["mx"]) + 1 if srow_all["mx"] is not None else 0,
    )
    # a crashed update may have merged postings into staging whose doc
    # stats never landed — compacting that state would bake stale
    # num_docs/avg_len (and an under-sized universe) into every
    # payload.  Detect and direct the caller to the self-healing path.
    staged_mx = staged.agg(F.max(F.array_max("doc_ids"))).collect()[0][0]
    if staged_mx is not None and int(staged_mx) >= guard_universe:
        raise RuntimeError(
            f"staging contains doc_id {staged_mx} beyond the stats "
            f"universe {guard_universe} — an interrupted update left "
            "postings without their doc stats; replay the interrupted "
            "batch first (update_index_delta — replays are exact) "
            "before compacting"
        )

    # ---- tombstones fold in physically: every structure below is
    # computed over the SURVIVING corpus (stats, models, universe,
    # chunking), exactly what a fresh build on the live docs would see
    tombs = load_tombstones(out_dir)
    if tombs is None:
        stats_live, tombs_df = stats_all, None
        srow = srow_all
    else:
        tombs_df = spark.createDataFrame(
            [(int(x),) for x in tombs], "doc_id long"
        )
        stats_live = stats_all.join(
            F.broadcast(tombs_df), "doc_id", "left_anti"
        )
        srow = stats_live.agg(
            F.count(F.lit(1)).alias("n"), F.avg("doc_len").alias("avg"),
            F.max("doc_id").alias("mx"),
        ).collect()[0]
        if int(srow["n"]) == 0:
            raise RuntimeError(
                "compaction would delete every document — rebuild from "
                "scratch instead of compacting a fully-tombstoned index"
            )
    num_docs, avg_len = int(srow["n"]), float(srow["avg"] or 0.0)
    if tombs is None:
        universe = guard_universe
    else:
        # surviving ids only: the fold drops every tombstoned posting,
        # so the tightest valid encode universe is max live id + 1
        universe = max(int(srow["mx"]) + 1, 1)

    # ---- scratch roots (a stale partial attempt is discarded whole)
    sc_staging = f"{out_dir}/.compact_staging"
    sc_index = f"{out_dir}/.compact_index"
    sc_tstats = f"{out_dir}/.compact_term_stats"
    sc_dstats = f"{out_dir}/.compact_doc_stats"
    sc_models = f"{out_dir}/.compact_models.pkl"
    sc_ckpt = f"{out_dir}/.compact_ckpt.jsonl"
    sc_man = f"{out_dir}/.compact_manifest.json"
    sc_tomb = f"{out_dir}/.compact_tombstones.parquet"
    for d in (
        sc_staging, sc_index, sc_tstats, sc_dstats,
        f"{out_dir}/.compact_fold.parquet",
    ):
        shutil.rmtree(d, ignore_errors=True)
    for f in (sc_models, sc_ckpt, sc_man, sc_tomb):
        if os.path.exists(f):
            os.remove(f)

    part_col = (F.crc32(F.col("term")) % num_parts).cast("int")
    chunk_postings = int(man["chunk_postings"])
    aff_parts: list[int] = []
    if tombs_df is not None:
        # ---- physical delete path: the docID universe SHRINKS, so
        # every chunk's stride / EF layout changes — re-chunk the
        # ENTIRE surviving corpus (base hash parts + delta segments)
        # in one distributed pass.  Compaction re-encodes every
        # payload anyway; deletes trade the untouched-part hardlink
        # shortcut for one extra shuffle, nothing asymptotic.
        tf_union = staged.select(
            "term", F.explode(F.arrays_zip("doc_ids", "freqs")).alias("z")
        ).select(
            "term",
            F.col("z.doc_ids").alias("doc_id"),
            F.col("z.freqs").cast("int").alias("tf"),
        ).dropDuplicates(["term", "doc_id"]).join(
            F.broadcast(tombs_df), "doc_id", "left_anti"
        )
        new_chunks = p_mod.build_postings(
            tf_union, num_docs=universe, chunk_postings=chunk_postings,
            doc_norms=stats_live,
        ).withColumn("part_id", part_col)
        new_chunks.write.partitionBy("part_id").mode("overwrite").parquet(
            sc_staging
        )
    else:
        # ---- fold delta segments back into the hash parts (LSM
        # merge) INTO THE SCRATCH staging tree: delta terms'
        # base+delta postings re-chunk into ONE list per term in the
        # term's hash part; untouched parts are hardlinked (parquet
        # files are immutable).
        delta_pids = sorted(
            int(r["part_id"])
            for r in staged.select("part_id").distinct().collect()
            if int(r["part_id"]) >= num_parts
        )
        if delta_pids:
            stats_df = spark.read.parquet(f"{out_dir}/doc_stats.parquet")
            aff_terms = (
                staged.where(F.col("part_id") >= num_parts)
                .select("term").distinct().cache()
            )
            aff_parts = sorted(
                r["p"] for r in
                aff_terms.select(part_col.alias("p")).distinct().collect()
            )
            sub = staged.join(F.broadcast(aff_terms), "term", "left_semi")
            tf_union = sub.select(
                "term", F.explode(F.arrays_zip("doc_ids", "freqs")).alias("z")
            ).select(
                "term",
                F.col("z.doc_ids").alias("doc_id"),
                F.col("z.freqs").cast("int").alias("tf"),
            ).dropDuplicates(["term", "doc_id"])
            new_chunks = p_mod.build_postings(
                tf_union, num_docs=universe, chunk_postings=chunk_postings,
                doc_norms=stats_df,
            ).withColumn("part_id", part_col)
            scratch = f"{out_dir}/.compact_fold.parquet"
            new_chunks.write.mode("overwrite").parquet(scratch)
            new_chunks = spark.read.parquet(scratch)
            for pid in aff_parts:
                keep = (
                    staged.where(F.col("part_id") == pid)
                    .join(F.broadcast(aff_terms), "term", "left_anti")
                    .drop("part_id")
                )
                merged = keep.unionByName(
                    new_chunks.where(F.col("part_id") == pid).drop("part_id")
                )
                merged.write.mode("overwrite").parquet(
                    f"{sc_staging}/part_id={pid}"
                )
            aff_terms.unpersist()
        # untouched hash parts: hardlink into the scratch tree
        os.makedirs(sc_staging, exist_ok=True)
        for pid in range(num_parts):
            if pid in aff_parts:
                continue
            src = f"{staging}/part_id={pid}"
            if os.path.isdir(src):
                _link_tree(src, f"{sc_staging}/part_id={pid}")
        # staging-root marker files (_SUCCESS) ride along
        for name in os.listdir(staging):
            src = os.path.join(staging, name)
            if os.path.isfile(src) and not name.startswith("."):
                try:
                    os.link(src, os.path.join(sc_staging, name))
                except OSError:
                    shutil.copy2(src, os.path.join(sc_staging, name))
    staged_new = spark.read.parquet(sc_staging)

    # ---- retrain on the folded corpus, re-encode every part into the
    # scratch index tree (live index untouched)
    models = side["models"]
    if codec in b_mod.ANS_CODEC_VARIANTS:
        models = b_mod.train_ans_models(
            staged_new, variant=b_mod.ANS_CODEC_VARIANTS[codec]
        )
    elif codec == "ans_packed":
        models = b_mod.train_ans_packed_models(staged_new)

    codec_bc = spark.sparkContext.broadcast(
        b_mod.IndexCodec(codec, models, num_docs=universe)
    )
    recs = {}
    for pid in range(num_parts):
        t_part = time.perf_counter()
        idx_dir = f"{sc_index}/part={pid}"
        enc = staged_new.where(F.col("part_id") == pid).drop("part_id").mapInPandas(
            b_mod._encode_factory(codec_bc, avg_len), schema=b_mod.INDEX_SCHEMA
        )
        enc.write.mode("overwrite").parquet(idx_dir)
        stats_row = spark.read.parquet(idx_dir).agg(
            F.sum("n").alias("postings"), F.sum(F.length("payload")).alias("bytes")
        ).collect()[0]
        recs[pid] = {
            "part_id": pid,
            "lineage": _lineage(spark, staged_new, pid),
            "postings": int(stats_row["postings"] or 0),
            "payload_bytes": int(stats_row["bytes"] or 0),
            "elapsed_sec": round(time.perf_counter() - t_part, 3),
            "codec": codec,
            "avg_len_at_encode": avg_len,
        }
    with open(sc_models, "wb") as fh:
        # delta_models intentionally dropped: the fold re-encoded every
        # delta posting under the fresh base models
        pickle.dump({"codec": codec, "models": models}, fh)
    with open(sc_ckpt, "w") as fh:
        for pid in sorted(recs):
            fh.write(json.dumps(recs[pid]) + "\n")

    # ---- sidecars from the SCRATCH tree (fresh encode: no bound
    # scales), so the committed state is consistent with no post-commit
    # write at all
    total_new = spark.read.parquet(sc_index)
    b_mod.term_stats_agg(total_new).write.mode("overwrite").parquet(sc_tstats)
    agg = spark.read.parquet(sc_tstats).agg(
        F.sum("postings").alias("postings"), F.sum("payload_bytes").alias("bytes")
    ).collect()[0]
    man_new = dict(man)
    man_new.update(
        num_docs=num_docs,
        avg_doc_len=avg_len,
        total_postings=int(agg["postings"] or 0),
        payload_bytes=int(agg["bytes"] or 0),
        bits_per_posting=int(agg["bytes"] or 0) * 8 / int(agg["postings"] or 1),
        universe=universe,
        compactions=int(man.get("compactions", 0)) + 1,
        compact_sec=round(time.perf_counter() - t0, 3),
        parts_reencoded=num_parts,
        delta_segments=0,
        docs_purged=int(man.get("docs_purged", 0)) + (
            int(srow_all["n"]) - num_docs if tombs is not None else 0
        ),
    )
    with open(sc_man, "w") as fh:
        json.dump(man_new, fh, indent=2)

    # ---- journaled commit: old state fully live until here; roll
    # forward on replay
    renames = [
        (sc_staging, staging),
        (sc_index, f"{out_dir}/index.parquet"),
        (sc_models, f"{out_dir}/models.pkl"),
        (sc_ckpt, f"{out_dir}/checkpoints.jsonl"),
        (sc_tstats, f"{out_dir}/term_stats.parquet"),
    ]
    if tombs is not None:
        # purged doc stats + an EMPTY tombstone sidecar swap in with
        # the same journaled commit — no crash point where the folded
        # index is live while deleted docs still have stats, or where
        # the fold committed but the (now-stale) tombstones survive
        stats_live.write.mode("overwrite").parquet(sc_dstats)
        import pyarrow as pa
        import pyarrow.parquet as pq

        pq.write_table(
            pa.table({"doc_id": pa.array([], type=pa.int64())}), sc_tomb
        )
        renames += [
            (sc_dstats, f"{out_dir}/doc_stats.parquet"),
            (sc_tomb, os.path.join(out_dir, TOMBSTONES_FILE)),
        ]
    renames.append((sc_man, f"{out_dir}/manifest.json"))
    _commit_renames(out_dir, renames)
    shutil.rmtree(f"{out_dir}/.compact_fold.parquet", ignore_errors=True)
    return man_new
