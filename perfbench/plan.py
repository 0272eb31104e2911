"""Seeded op plans for the three workloads, and the expected-state model of
the `index_rw` table.

A plan is what the engine receives: query order, write batches and query
vectors. Groups up to 0 are the warm-up the harness runs untimed during
set-up; groups 1.. are timed, and the harness runs every group of the plan. How
many groups a run times depends on --seconds only, never on how fast the
ops ran, so two builds compared at the same --seconds time the same ops and
read their tails at the same rank.
"""
import random

import numpy as np

import gendata

# Relational and ETL registry queries: filters and string cleaning, a
# join, the broadcast-dimension join, aggregates, windows, a pivot, a set op,
# dedup and the whole FoodPipeline-shaped composition.
SQL_MIX = [
    "q_like_filter", "q_string_clean", "q_threshold_nullout",
    "q_window_lag", "q_date_trunc", "q_anti_join", "q_intersect",
    "q_pivot_wide", "q_cube", "q_broadcast_dim", "q_dedup_latest",
    "q_pipeline_shape",
]

# Dedup, similarity and text operators of the LLM-data curation family.
LLM_CURATION = [
    "q_minhash_lsh", "q_dedup_keep_best", "q_bpe_train", "q_tfidf",
    "q_lang_id", "q_quality_score",
]

# Nominal seconds of one timed group: a warm group takes 5-7 s of op time on
# a 4-core box, depending on the workload.
GROUP_SECONDS = 6


def timed_groups(seconds):
    """Whole timed groups for a window of nominally `seconds`, at least one.
    The count depends on `seconds` alone."""
    return max(1, round(seconds / GROUP_SECONDS))


def traced_groups(n):
    """Numbers of the traced groups when a traced run times `n` groups:
    half of them, one of each pair of consecutive groups, and the pairs
    alternate which half runs first, so neither half always runs on a
    warmer JVM. A traced run thus takes as long as an untraced one."""
    return [2 * k + (2 if k % 2 == 0 else 1) for k in range(n // 2)]


# Warm-up passes of a query workload. With one, the first timed pass still
# ran about a fifth slower than the later ones on a 4-core box, as the JIT
# compiled the code of a dozen different queries; an index cycle repeats
# the same calls and needs one.
QUERY_WARMUP = 2


def query_plan(names, seed, groups):
    """Every query once per group, in a seeded order per group: the
    QUERY_WARMUP warm-up groups 1 - QUERY_WARMUP .. 0, then the timed
    groups 1 .. `groups`."""
    ops = []
    for g in range(1 - QUERY_WARMUP, groups + 1):
        order = list(names)
        random.Random(seed * 1000 + g).shuffle(order)
        ops += [(g, "query", [n]) for n in order]
    return ops


# ---------------------------------------------------------------- index_rw

DIM = 64
CELLS = 8
LLOYD_ITERS = 3
NPROBE = 3
BATCH = 50          # rows per append and ids per delete: live size stays put
UPSERT = 5          # live rows re-embedded per upsert
KEEP = 3            # versions a vacuum retains (time travel reads one of them)
# Compaction and vacuum run in every COMPACT_EVERY-th group, the warm-up
# included. Run every group, the upserts and compactions of five groups
# would be exactly the ten ops beyond the latency tail rank and put that
# rank on the edge of the sparse compaction cluster; every third group
# leaves the rank inside the appends and whole-table reads.
COMPACT_EVERY = 3
ROW_BYTES = 8 + 4 * DIM  # one user row: the id and its float vector
ID_BYTES = 8


def vec_digest(ids, vecs):
    """Order-independent digest of (id, vector) rows; the harness computes
    the same function over what the engine returned."""
    ids = np.asarray(ids, dtype=np.int64).astype(np.uint64)
    if len(ids) == 0:
        return "0"
    bits = np.ascontiguousarray(vecs, dtype=np.float32).view(np.uint32).astype(np.uint64)
    h = ids * np.uint64(0x9E3779B97F4A7C15)
    for j in range(bits.shape[1]):
        h = (h ^ (bits[:, j] + np.uint64(j))) * np.uint64(0x100000001B3)
    return str(int(np.sum(h, dtype=np.uint64)))


class IndexModel:
    """Expected visible rows of every committed version of the table.

    Each commit (append, delete, upsert, compact) creates version head+1;
    vacuum creates none but ends time travel to every version it does not
    keep. Compaction moves bytes, so its version shows the same rows.
    """

    def __init__(self, base):
        self.versions = {1: dict(base)}
        self.head = 1
        self.retained = {1}

    def state(self, version=None):
        return self.versions[self.head if version is None else version]

    def _commit(self, state):
        self.head += 1
        self.versions[self.head] = state
        self.retained.add(self.head)
        return self.head

    def append(self, rows):
        state = dict(self.state())
        assert not set(rows) & set(state), "appends add new ids"
        state.update(rows)
        return self._commit(state)

    def delete(self, ids):
        state = dict(self.state())
        for i in ids:
            del state[i]
        return self._commit(state)

    def upsert(self, rows):
        state = dict(self.state())
        state.update(rows)
        return self._commit(state)

    def compact(self):
        return self._commit(self.state())

    def vacuum(self, keep):
        assert self.head in keep
        self.retained &= set(keep)

    def expected_rows(self, version=None):
        state = self.state(version)
        ids = np.fromiter(state.keys(), dtype=np.int64, count=len(state))
        vecs = np.stack([state[i] for i in ids]) if len(ids) else np.zeros((0, DIM), np.float32)
        return ids, vecs

    def read_expectation(self, version=None):
        ids, vecs = self.expected_rows(version)
        return {"rows": len(ids), "digest": vec_digest(ids, vecs)}

    def exact_topk(self, q, k=10):
        """Exact cosine top-k over the visible rows at head, scores rounded
        to 4 places as the engine reports them, ties by id."""
        ids, vecs = self.expected_rows()
        scores = cosine(vecs, q)
        order = sorted(range(len(ids)), key=lambda i: (-round(scores[i], 4), ids[i]))
        return [int(ids[i]) for i in order[:k]], dict(zip(ids.tolist(), scores.tolist()))


def cosine(vecs, q):
    v = np.asarray(vecs, dtype=np.float64)
    q = np.asarray(q, dtype=np.float64)
    return v @ q / (np.linalg.norm(v, axis=1) * np.linalg.norm(q))


def fmt_vec(v):
    return ",".join(repr(float(x)) for x in np.asarray(v, dtype=np.float32))


def index_plan(base, seed, groups):
    """Seeded `index_rw` session over the base table (id -> vector).

    Returns (ops, expectations, batches): ops as (group, kind, args);
    `expectations[i]` is what op i must return; `batches` maps batch id to
    the rows its append or upsert commits.

    One group is one op of each kind: append, point read, whole-table read
    of the latest version, delete, top-10 by cosine, upsert, time-travel
    read of the oldest retained version, point read of an id live in that
    version, and, every COMPACT_EVERY groups,
    compaction and a vacuum keeping the last KEEP versions. Appends add
    BATCH fresh ids and deletes remove BATCH live ids, so the live size
    stays at the base size. An upsert gives UPSERT live ids new vectors.
    """
    rng = np.random.default_rng(seed)
    model = IndexModel(base)
    ops, expect, batches = [], [], {}
    next_id = 1_000_000
    next_batch = 1

    def add(g, kind, args, expectation):
        ops.append((g, kind, [str(a) for a in args]))
        expect.append(expectation)

    def commit(g, kind, args, version, user_bytes):
        add(g, kind, args, {"kind": "commit", "version": version, "user_bytes": user_bytes})

    def live_sample(n):
        return sorted(int(i) for i in rng.choice(sorted(model.state()), n, replace=False))

    for g in range(groups + 1):
        rows = dict(zip(range(next_id, next_id + BATCH), gendata.embed(rng, BATCH)))
        next_id += BATCH
        batches[next_batch] = rows
        commit(g, "append", [next_batch], model.append(rows), BATCH * ROW_BYTES)
        next_batch += 1

        key = live_sample(1)[0]
        add(g, "point", [model.head, key],
            {"kind": "read", "rows": 1, "digest": vec_digest([key], model.state()[key][None, :])})
        add(g, "read_latest", [], dict(model.read_expectation(), kind="read"))

        doomed = live_sample(BATCH)
        commit(g, "delete", [next_batch, ",".join(map(str, doomed))], model.delete(doomed),
               BATCH * ID_BYTES)
        next_batch += 1

        q = gendata.embed(rng, 1)[0]
        exact, scores = model.exact_topk(q)
        add(g, "topk", [fmt_vec(q)], {"kind": "topk", "exact": exact, "scores": scores,
                                      "visible": set(model.state())})

        chosen = live_sample(UPSERT)
        rows = dict(zip(chosen, gendata.embed(rng, len(chosen))))
        batches[next_batch] = rows
        commit(g, "upsert", [next_batch], model.upsert(rows), len(rows) * ROW_BYTES)
        next_batch += 1

        older = min(model.retained)
        add(g, "read_as_of", [older], dict(model.read_expectation(older), kind="read"))
        then = model.state(older)
        key = int(rng.choice(sorted(then)))
        add(g, "point_as_of", [older, key],
            {"kind": "read", "rows": 1, "digest": vec_digest([key], then[key][None, :])})

        if g % COMPACT_EVERY == 0:
            commit(g, "compact", [], model.compact(), 0)
            keep = list(range(model.head - KEEP + 1, model.head + 1))
            model.vacuum(keep)
            add(g, "vacuum", [",".join(map(str, keep))], {"kind": "commit", "user_bytes": 0})
    return ops, expect, batches
