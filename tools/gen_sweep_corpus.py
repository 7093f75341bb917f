#!/usr/bin/env python3
"""Randomized differential-sweep corpus generator (r14 rebuild of the
r13 sweep): documents over eight mixed-script shapes (pure Han with
full-width terminators, Han+latin code-switch, Thai/kana/Lao/Myanmar/
Khmer, ZWSP/combining/emoji soup, multi-space and newline runs,
planted latin and zh near-dups, degenerate edges), 300 64-dim
embeddings with zero/all-negative/exact-dup/denormal edge rows, and
events with exact-ts ties, single-type users, zero/negative values,
and NULL/empty props.

Usage: python3 tools/gen_sweep_corpus.py [outdir]   (default /tmp/probe_diff)
Then:  sbt "runMain graft.Verify <outdir> /tmp/vout_diff"
       python3 tools/compare_oracle.py <outdir> /tmp/vout_diff
Non-document/embedding/event queries fail on missing TPC-H parquet
(expected, caught); everything else must pass.

This sweep found a REAL r14 bug: a benchmark with zero ws-shingles
made the decontamination twins' list() aggregate NULL and the oracle
dropped every corpus row (now coalesced to [] in Decontaminate).
Embeddings MUST be 64-dim — the PQ configs slice 4x16.
"""
import os, sys, duckdb, random, datetime, json

out = sys.argv[1] if len(sys.argv) > 1 else "/tmp/probe_diff"
os.makedirs(out, exist_ok=True)
random.seed(141)
han = "的一是不了人我在有他这为之大来以个中上们到说国和地也要就出会可得于着下自"
thai = "ไทยแบ่งคำไม่ได้เลยประโยคนี้"
lao = "ພາສາລາວບໍ່ມີຊ່ອງວ່າງ"
myan = "မြန်မာစာမှာစာလုံးမခွဲပါ"
khm = "ភាសាខ្មែរមិនមានចន្លោះ"
kana = "カタカナとひらがなのぶんしょう"
en = "the quick brown fox jumps over a lazy dog while data pipelines run at scale".split()
zwsp, comb, emoji = "​", "é", "\U0001F600"
docs, did = [], 1
def add(t, lang="en", src="sweep"):
    global did
    docs.append((did, t, lang, src, len(t))); did += 1
for i in range(30):
    add("".join(random.choice(han) for _ in range(random.randint(5, 80))) +
        random.choice(["。", "！", "？", "…", ""]), "zh")
for i in range(30):
    parts = []
    for _ in range(random.randint(2, 8)):
        parts.append("".join(random.choice(han) for _ in range(random.randint(1, 10)))
                     if random.random() < 0.5 else random.choice(en))
    add(("" if random.random() < 0.5 else " ").join(parts), "mix")
for i in range(20):
    base = random.choice([thai, kana, lao, myan, khm])
    add(base[:random.randint(3, len(base))], "sea")
for i in range(25):
    toks = [random.choice(en) + random.choice(["", zwsp, comb, emoji]) for _ in range(random.randint(3, 15))]
    add(" ".join(toks))
for i in range(25):
    toks = []
    for _ in range(random.randint(4, 20)):
        toks.append(random.choice(en)); toks.append(random.choice([" ", "  ", "\n", ". ", "! ", "? ", "… "]))
    add("".join(toks))
for i in range(25):
    base = " ".join(random.choice(en) for _ in range(random.randint(12, 30)))
    add(base); add(base + " crawl tail v" + str(i))
for i in range(10):
    base = "".join(random.choice(han) for _ in range(40))
    add(base, "zh"); add(base + "附加尾部", "zh")
for t in ["", " ", "  ", "x", "one two", "。", "…", "！！！", zwsp, emoji,
          "我们的朋友在中国学习中文。"
          "他们喜欢人工智能！", "ab" * 500,
          # round-20 lowercase-divergence classes: Greek FINAL SIGMA
          # (Java lowers trailing Σ to ς, utf8proc to σ) and Turkish
          # dotted İ (Java -> i+U+0307, DuckDB -> bare i) — any hashed
          # column that full-lower()s text diverges on these rows
          "ΑΒΓΣ ΚΑΛΟΣ ΟΣ", "İstanbul İ BIG İŞ deal",
          "ΜΥΘΟΣ the end Σ"]:
    add(t, "edge")
con = duckdb.connect()
con.execute("CREATE TABLE d(doc_id BIGINT, text VARCHAR, lang VARCHAR, source VARCHAR, n_chars BIGINT)")
con.executemany("INSERT INTO d VALUES (?,?,?,?,?)", docs)
con.execute(f"COPY d TO '{out}/documents.parquet' (FORMAT PARQUET)")
random.seed(142)
D = 64
vecs = [(v, [round(random.uniform(-1, 1), 4) for _ in range(D)], v % 3) for v in range(296)]
vecs += [(296, [0.0] * D, 2), (297, [-0.5] * D, 0), (298, vecs[0][1], 1), (299, [1e-30] * D, 2)]
con.execute("CREATE TABLE e(vec_id BIGINT, embedding FLOAT[], label INTEGER)")
con.executemany("INSERT INTO e VALUES (?,?,?)", vecs)
con.execute(f"COPY e TO '{out}/embeddings.parquet' (FORMAT PARQUET)")
evs, eid, t0 = [], 1, datetime.datetime(2026, 1, 1)
for u in range(1, 9):
    for k in range(12):
        ts = t0 + datetime.timedelta(minutes=k * 7 if u != 3 else 0)
        et = "view" if (u == 4 or k % 3) else "purchase"
        val = 0.0 if u == 5 else (-5.5 if u == 6 and k % 2 else round(random.uniform(1, 99), 2))
        props = None if k % 5 == 0 else ("{}" if k % 5 == 1 else json.dumps({"k": k}))
        evs.append((eid, ts, u, et, val, props)); eid += 1
con.execute("CREATE TABLE ev(event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type VARCHAR, value DOUBLE, props VARCHAR)")
con.executemany("INSERT INTO ev VALUES (?,?,?,?,?,?)", evs)
con.execute(f"COPY ev TO '{out}/events.parquet' (FORMAT PARQUET)")
print(f"wrote {len(docs)} docs, {len(vecs)} vecs, {len(evs)} events to {out}")
