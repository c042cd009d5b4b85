"""Seeded inputs for the graft benchmark.

Everything a run feeds graft comes from here and depends only on the
workload and the seed. The same arguments give
byte-identical files; another seed gives other bytes but the same amount
of work (message counts, byte counts, dirty share per corruption kind and
curate row counts), so runs on different seeds are comparable.

Message inputs are tab-separated, one message a line:

    seq  queue  born_ms  kind  tag  props  body

`kind` (clean / missing / extra / format) is the generator's own label and
never reaches graft; the harness strips it and keeps it to check the output.
A body is SOH-joined fields `seq, user, amount, qty, note`; the dirty kinds
drop the last field, append a sixth, or make `qty` unparsable.
"""
import hashlib
import json
import os
import random


SOH = "\x01"
KINDS = ("clean", "missing", "extra", "format")
# Share of each dirty kind, as a whole number of messages per 1000. The
# counts are fixed per input, not drawn, so every seed has the same mix.
DIRTY_PER_MILLE = {"missing": 20, "extra": 15, "format": 15}
TAGS = ("A", "B", "C", "D")
BASE_MS = 1_700_000_000_000
NOTE_ALPHABET = "abcdefghijklmnopqrstuvwxyz      "
# Body-size classes (note length range). Every input draws the same number
# of messages from each class, so byte counts match across seeds.
NOTE_LENGTHS = ((8, 24), (40, 80), (150, 250))

# The corpus remap shifts doc_id and vec_id by a seeded multiple of this.
# The operators and their oracle split and sample on id residues (doc_id % 97,
# (id * 2654435761) mod 1000 and mod 2^32); a shift by a multiple of
# 97 * 125 * 2^32 keeps each of them and the id order, so every seed asks
# for the same work and the same result up to the shift.
REMAP_UNIT = 97 * 125 * 2 ** 32


def kinds_for(n, rng):
    """Exactly DIRTY_PER_MILLE of n per dirty kind, at seeded positions."""
    counts = {k: n * v // 1000 for k, v in DIRTY_PER_MILLE.items()}
    labels = []
    for k, c in counts.items():
        labels += [k] * c
    labels += ["clean"] * (n - len(labels))
    rng.shuffle(labels)
    return labels


def size_classes(kinds, rng):
    """A body-size class per message, balanced within each kind: a dirty
    kind changes a body's length by a class-dependent amount, so equal
    (kind, class) counts keep byte counts equal across seeds."""
    sizes = [0] * len(kinds)
    for kind in KINDS:
        idx = [i for i, k in enumerate(kinds) if k == kind]
        per = [len(idx) // len(NOTE_LENGTHS)] * len(NOTE_LENGTHS)
        per[0] += len(idx) - sum(per)
        labels = [c for c, n in enumerate(per) for _ in range(n)]
        rng.shuffle(labels)
        for i, c in zip(idx, labels):
            sizes[i] = c
    return sizes


def body(seq, kind, size_class, rng, pool):
    lo, hi = NOTE_LENGTHS[size_class]
    # one length per class keeps byte counts seed-independent; the text is
    # a seeded slice of a seeded pool (drawing every character is too slow)
    note_len = (lo + hi) // 2
    start = rng.randrange(len(pool) - note_len)
    note = pool[start:start + note_len]
    user = "u%05d" % rng.randrange(100000)
    amount = "%d.%02d" % (rng.randrange(1000, 10000), rng.randrange(100))
    qty = str(rng.randrange(100, 1000))
    if kind == "format":
        qty = "q" + qty[1:]
    fields = [str(seq), user, amount, qty, note]
    if kind == "missing":
        fields = fields[:-1]
    elif kind == "extra":
        fields.append("extra%03d" % rng.randrange(1000))
    return SOH.join(fields)


def messages(n, queues, rng, born):
    """n message input lines; `born(i)` gives the i-th send time."""
    kinds = kinds_for(n, rng)
    sizes = size_classes(kinds, rng)
    pool = "".join(rng.choice(NOTE_ALPHABET) for _ in range(1 << 16))
    # as many messages per tag in every input, at seeded positions
    tags = [TAGS[i % len(TAGS)] for i in range(n)]
    rng.shuffle(tags)
    lines = []
    for i in range(n):
        seq = i
        kind = kinds[i]
        tag = tags[i]
        props = "pri=%d;src=s%d" % (rng.randrange(3), rng.randrange(4))
        lines.append("%d\t%d\t%d\t%s\t%s\t%s\t%s" % (
            seq, seq % queues, born(i), kind, tag, props, body(seq, kind, sizes[i], rng, pool)))
    return lines


def write_lines(path, lines):
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        for line in lines:
            f.write(line)
            f.write("\n")


def parse_line(line):
    seq, queue, born, kind, tag, props, body_ = line.split("\t")
    return int(seq), int(queue), int(born), kind, tag, props, body_


def kept(kind, length_check):
    """Whether graft's `lengthCheck` shorthand keeps a line of this kind
    (see RowDeserializer.withLengthCheck)."""
    return {
        "NONE": kind in ("clean", "extra"),
        "SKIP": kind == "clean",
        "SKIP_SILENT": kind == "clean",
        "PAD": kind in ("clean", "missing", "extra"),
    }[length_check]


def digest(rows, length_check):
    """Expected (count, sum seq, sum qty, sum note length) of the parsed rows:
    padded/cut fields read as null and add nothing."""
    count = s_seq = s_qty = s_note = 0
    for seq, _, _, kind, _, _, b in rows:
        if not kept(kind, length_check):
            continue
        f = b.split(SOH)
        count += 1
        s_seq += seq
        if kind != "format":
            s_qty += int(f[3])
        if kind != "missing":
            s_note += len(f[4])
    return [count, s_seq, s_qty, s_note]


def gen_replay(out, seed):
    rng = random.Random(seed * 1_000_003 + 5)
    n, q = 48_000, 8
    # born_ms strictly increasing per queue: queue logs are time-ordered
    lines = messages(n, q, rng, born=lambda i: BASE_MS + 3 * i)
    write_lines(os.path.join(out, "backlog.tsv"), lines)
    rows = [parse_line(l) for l in lines]
    expect = {lc: digest(rows, lc) for lc in ("NONE", "SKIP", "SKIP_SILENT", "PAD")}
    tags = {t: [sum(1 for r in rows if r[4] == t), sum(r[0] for r in rows if r[4] == t)] for t in TAGS}
    # born_ts windows at fixed places, so every seed reads as deep into
    # the queues: [born lo, born hi), rows, sum of seq
    width = n // 8
    ranges = []
    for k in range(4):
        lo = (2 * k + 1) * n // 8 - width // 2
        ranges.append([BASE_MS + 3 * lo, BASE_MS + 3 * (lo + width), width, sum(range(lo, lo + width))])
    return {"messages": n, "queues": q, "expect": expect, "tags": tags, "ranges": ranges,
            "bytes": sum(len(l.encode()) for l in lines),
            "dirty": {k: sum(1 for r in rows if r[3] == k) for k in KINDS}}


def gen_curate(out, seed, data_dir):
    import pyarrow as pa
    import pyarrow.parquet as pq
    rng = random.Random(seed * 1_000_003 + 11)
    shift = REMAP_UNIT * rng.randrange(1, 1001)
    counts = {}
    for table, idc in (("documents", "doc_id"), ("embeddings", "vec_id")):
        t = pq.read_table(os.path.join(data_dir, table + ".parquet"))
        ids = t.column(idc).to_pylist()
        t = t.set_column(t.schema.get_field_index(idc), idc,
                         pa.array([i + shift for i in ids], type=t.schema.field(idc).type))
        order = list(range(t.num_rows))
        rng.shuffle(order)
        t = t.take(pa.array(order))
        pq.write_table(t, os.path.join(out, table + ".parquet"), compression="snappy")
        counts[table] = t.num_rows
    return {"remap": {"shift": shift}, "rows": counts}


def generate(workload, seed, out, data_dir):
    os.makedirs(out, exist_ok=True)
    if workload == "replay_backlog":
        m = gen_replay(out, seed)
    elif workload == "curate_corpus":
        m = gen_curate(out, seed, data_dir)
    else:
        raise ValueError("unknown workload " + workload)
    m["workload"] = workload
    m["seed"] = seed
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(m, f, sort_keys=True, indent=1)
    return m


def fingerprint(out):
    """sha256 over every generated file, for the determinism tests."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(out)):
        h.update(name.encode())
        with open(os.path.join(out, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()
