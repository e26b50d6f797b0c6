"""The lake_rw workload: a seeded op sequence over one versioned table,
and the model that says what every read of it must return.

The table starts as the first `base_rows` events (version 0) followed
by a fixed, seed-independent history of HISTORY_WRITES small writes
(see `history`), so the timed ops meet a version log a few hundred
versions long, as a streaming sink's table has after a few hours of
micro-batches. run.py builds that table once per build and gives each
run a copy. Writes touch the table in batches whose rows the harness
generates from id ranges and a salt (see `cents`, mirrored by
`Run.batch` in Harness.scala); reads return (row count, sum of value in
cents). The model tracks live ids and their cents through every write,
so each read — at the head, at an older version, or over a change-feed
range — has an exact expected answer.

History plan lines (read by `Run.lake`): `table <name> <base_rows>`,
then one write per line. Run plan lines: `history <name> <writes>` (the
copied table, whose write j is version j), untimed warm-up ops,
`timed`, then the timed ops. An op is `<kind> <w> <args...>`. For a
write, `w` is its write number (the base commit is write 0); for a read
it names the write whose version is read (`read_changes` reads versions
of writes `w..args[0]`).

Batch sizes: history appends are 100-row micro-batches, so the 294 of
them take the 30k-row base to about 60k rows. A timed append adds
500–2000 rows (1–3% of that), so the dozen or so appends of a run add
about a quarter and a run's first and last reads scan tables of the
same order. A DML op targets an id range of 100–1000 (0.2–2% of the
table): the small keyed change deletion vectors exist for, beside a
copy-on-write `merge` that rewrites the table for the same change.
"""
import random

import numpy as np

# Op mix, fixed per block of 20 ops so that every run, whatever its
# seed, does the same work in the same table states: four windows of
# four ops, shuffled within the window, each closed by a heavy op. Half
# the ops are writes: the streaming-sink append (commitTxn with a txn
# token; one in six a replay of an earlier token), three row-level DML
# ops (Scala and SQL, copy-on-write and deletion-vector, rotating
# through the five kinds) and a compact, which drops the deletion
# vectors the DML left, so reads meet the same table state every run.
DML = ["merge_dv", "delete_dv", "sql_update", "merge", "sql_delete"]
WINDOWS = [["append", "append", "read_head", "read_old"],
           ["append", "replay", "read_head", "read_changes"],
           ["append", "read_old", "sql_read", "read_changes"],
           ["append", "read_head", "read_old", "sql_read"]]
WRITES = {"append", "replay", "compact"} | set(DML)
OLD_READ_BACK = 5      # read_old / sql_read read the version 5 writes back
UPDATE_CENTS = 125     # SQL UPDATE adds 1.25 to value
ID_CAP = 1 << 21
HISTORY_WRITES = 300   # write j of the history is version j
HISTORY_ROWS = 100
HISTORY_COMPACT_EVERY = 50
HISTORY_SALT = 2_000_000


def cents(ids, salt):
    """Value (in cents) of a generated batch row; Run.batch computes
    the same with pmod(id * 7919 + salt * 104729, 49999) + 1."""
    return (ids * 7919 + salt * 104729) % 49999 + 1


class Model:
    """Live rows of the table as (id -> cents) over a dense id space,
    plus, per write, the table summary after it and its change-feed
    summary (rows, cents of insert / update post-image / delete
    pre-image rows)."""

    def __init__(self, base_ids, base_cents):
        self.live = np.zeros(ID_CAP, dtype=bool)
        self.cents = np.zeros(ID_CAP, dtype=np.int64)
        self.live[base_ids] = True
        self.cents[base_ids] = base_cents
        self.next_id = int(base_ids.max()) + 1
        self.after = [self.summary()]       # per write number
        self.feed = [None]                  # None: write made no version

    def summary(self):
        return (int(self.live.sum()), int(self.cents[self.live].sum()))

    def _done(self, feed):
        self.after.append(self.summary())
        self.feed.append(feed)

    def insert(self, lo, hi, salt):
        ids = np.arange(lo, hi)
        c = cents(ids, salt)
        self.live[ids] = True
        self.cents[ids] = c
        self.next_id = max(self.next_id, hi)
        self._done((len(ids), int(c.sum())))

    def upsert(self, ranges, salt):
        ids = np.concatenate([np.arange(lo, hi) for lo, hi in ranges])
        c = cents(ids, salt)
        self.live[ids] = True
        self.cents[ids] = c
        self.next_id = max(self.next_id, max(hi for _, hi in ranges))
        self._done((len(ids), int(c.sum())))

    def delete(self, lo, hi):
        sel = np.arange(lo, hi + 1)
        sel = sel[self.live[sel]]
        feed = (len(sel), int(self.cents[sel].sum()))
        self.live[sel] = False
        self._done(feed)

    def update(self, lo, hi):
        sel = np.arange(lo, hi + 1)
        sel = sel[self.live[sel]]
        self.cents[sel] += UPDATE_CENTS
        self._done((len(sel), int(self.cents[sel].sum())))

    def no_version(self):
        self.after.append(self.after[-1])
        self.feed.append(None)

    def compact(self):
        self._done((0, 0))

    def live_id(self, rng):
        """A live id, drawn uniformly over the id space it spans."""
        while True:
            i = rng.randrange(0, self.next_id)
            if self.live[i]:
                return i


def kind_sequence(rng, n_ops):
    """n_ops op kinds: whole blocks (see WINDOWS), the order of the four
    light ops in each window shuffled by `rng`."""
    seq = []
    while len(seq) < n_ops:
        b = len(seq) // 20
        heavy = [DML[(3 * b + k) % len(DML)] for k in range(3)] + ["compact"]
        for window, last in zip(WINDOWS, heavy):
            window = list(window)
            rng.shuffle(window)
            seq += window + [last]
    return seq[:n_ops]


def ops(model, rng, kinds, salt0):
    """Op lines for `model`'s table, one per kind, updating the model."""
    lines, appends = [], []
    for kind in kinds:
        w = len(model.after)              # number this write would get
        versioned = [j for j in range(1, w) if model.feed[j] is not None]
        if kind in WRITES:
            if kind == "replay" and not appends:
                kind = "append"
            salt = salt0 + w
            if kind == "append":
                lo = model.next_id
                hi = lo + rng.randint(500, 2000)
                txn = f"b{salt}"
                appends.append((f"{lo}-{hi}", salt, txn))
                model.insert(lo, hi, salt)
                lines.append(f"append {w} {lo}-{hi} {salt} {txn}")
            elif kind == "replay":
                rg, s, txn = rng.choice(appends)
                model.no_version()
                lines.append(f"replay {w} {rg} {s} {txn}")
            elif kind in ("merge_dv", "merge"):
                a = model.live_id(rng)
                old = (a, min(a + rng.randint(100, 1000), model.next_id))
                new = (model.next_id, model.next_id + rng.randint(20, 200))
                model.upsert([old, new], salt)
                lines.append(f"{kind} {w} {old[0]}-{old[1]},{new[0]}-{new[1]} {salt}")
            elif kind in ("delete_dv", "sql_delete", "sql_update"):
                a = model.live_id(rng)
                b = a + rng.randint(100, 1000)
                if kind == "sql_update":
                    model.update(a, b)
                else:
                    model.delete(a, b)
                lines.append(f"{kind} {w} {a} {b}")
            else:
                model.compact()
                lines.append(f"compact {w}")
        else:
            head = w - 1
            if kind == "read_changes" and len(versioned) >= 2:
                lines.append(f"read_changes {versioned[-5:][0]} {versioned[-1]}")
            elif kind in ("read_old", "sql_read"):
                lines.append(f"{kind} {max(0, head - OLD_READ_BACK)}")
            else:
                lines.append(f"read_head {head}")
    return lines


def history(model):
    """Lines of the history writes, applied to `model`: 100-row appends
    with txn tokens (the streaming-sink path), every 50th write a
    compact, the last one included, so the timed ops start from a
    compacted table whose version log is HISTORY_WRITES long. The txn
    tokens (`h<w>`) differ from the timed ones (`b<salt>`), so every
    timed append's txn lookup scans the whole log."""
    lines = []
    for w in range(1, HISTORY_WRITES + 1):
        if w % HISTORY_COMPACT_EVERY == 0:
            model.compact()
            lines.append(f"compact {w}")
        else:
            lo, salt = model.next_id, HISTORY_SALT + w
            model.insert(lo, lo + HISTORY_ROWS, salt)
            lines.append(f"append {w} {lo}-{lo + HISTORY_ROWS} {salt} h{w}")
    return lines


def history_plan(event_ids, event_cents, base_rows):
    """The plan that builds the history table (the same for every seed)."""
    model = Model(event_ids[:base_rows], event_cents[:base_rows])
    return [f"table hist {base_rows}"] + history(model)


def plan(seed, event_ids, event_cents, base_rows, warm_rounds, n_ops):
    """The full plan and the table's model (for checking the reads the
    harness returns). The first ops, untimed, run every op kind
    `warm_rounds` times on the same table the timed ops then use, so
    the timed ops meet plans already compiled for this table's size."""
    rng = random.Random(seed)
    model = Model(event_ids[:base_rows], event_cents[:base_rows])
    history(model)
    every_kind = ["append"] + sorted(
        {k for w in WINDOWS for k in w} - {"append"} | set(DML)) + ["compact"]
    lines = [f"history t{seed} {HISTORY_WRITES}"]
    lines += ops(model, rng, every_kind * warm_rounds, 1_000_000)
    lines += ["timed"] + ops(model, rng, kind_sequence(rng, n_ops), 0)
    return lines, model


def expected(model, op):
    """(rows, cents) the read op must return, or None for a write."""
    kind, w = op["kind"], op["write"]
    if kind in ("read_head", "read_old", "sql_read"):
        return model.after[w]
    if kind == "read_changes":
        j2 = op["to"]
        feeds = [model.feed[j] for j in range(w, j2 + 1) if model.feed[j]]
        return (sum(f[0] for f in feeds), sum(f[1] for f in feeds))
    return None


def check(model, ops_done):
    """Names of the read ops whose (rows, cents) differ from the model."""
    bad = []
    for op in ops_done:
        exp = expected(model, op)
        if exp is not None and op["ok"] and (op["rows"], op["cents"]) != exp:
            bad.append(f"op {op['i']} {op['kind']}@{op['write']}: "
                       f"got {(op['rows'], op['cents'])}, model {exp}")
    return bad
