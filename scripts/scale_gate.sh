#!/usr/bin/env bash
# 10x scale gate: the quadratic-catcher, committed (VERDICT r15 item 4).
#
# Generates a synthetic 10x corpus from sf0.1 (density scaling, not just
# row count — the round-15 methodology, PLANS.md "Round-15: the 10x scale
# gate"), runs `graft.Diag each` over the heavy bench rows at BOTH scales
# back-to-back on the same box, and prints the wall-ratio table. Ratios,
# not absolute seconds, are the signal (the sandbox shows 2-3x contention
# noise between runs — CLAUDE.md).
#
# Corpus scheme (each fact table replicated 10x with shifted ids):
#   lineitem    l_partkey + k*(maxPart+1)   -> 10x more histograms at the
#               l_orderkey + k*(maxOrd+1)      same per-id mass
#   orders      o_orderkey + k*(maxOrd+1)   -> lineitem<->orders joins
#                                              stay 1:N at 10x density
#   part        p_partkey + k*(maxPart+1)   -> part<->lineitem joins hold
#   documents   doc_id shifted, text || ' copyvariant<k>' (distinct
#               content; replicas ARE near-dups of each other, so
#               near-dup-family outputs legitimately inflate ~100x+)
#   embeddings  vec_id shifted, vector rotated by 5k positions (norms and
#               distribution preserved, content de-duplicated)
#   events      event_id/user_id shifted at 10x arrival density
#   region/nation/customer/supplier copied verbatim (dimension tables;
#   rows joining customer/supplier are not in the default gate list).
#
# Usage: scripts/scale_gate.sh [gateDir] [query ...]
#   gateDir defaults to /tmp/sf1 (regenerated only if missing).
#   With no query args, runs the default heavy-row list (top bench rows).
#
# Reading the table: a wall ratio far above the OUTPUT ratio is the
# quadratic signal (r15 caught q_treeexact3d_pairs at 194x this way).
# Pair-join outputs grow ~quadratically with density, so compare wall
# growth against output growth (the rows= column), not against 10x.
set -euo pipefail
cd "$(dirname "$0")/.."

BASE=/root/testdata/sf0.1
GATE="${1:-/tmp/sf1}"
shift || true
QUERIES=("$@")
if [ ${#QUERIES[@]} -eq 0 ]; then
  QUERIES=(q_emd3d_pairs q_salted_join q_stream_ann q_dedup_clusters
    q_semdedup q_dsir_select q_rubner_pairs q_stream_rangejoin
    q_mrsim1d_pairs q_ngram_jaccard q_treeexact3d_pairs q_mrsim1d_topk
    q_engine_equiv q_tfidf_pairs q_keep_best q_melody1d_pairs
    q_emd3d_topk q_winnow_spans q_stream_window q_pipeline
    q_jaccard_pairs)
fi

if [ ! -f "$GATE/lineitem.parquet" ]; then
  echo "== generating 10x corpus at $GATE =="
  GATE_DIR="$GATE" BASE_DIR="$BASE" python3 - <<'PYEOF'
import duckdb, os, shutil, time
gate, base = os.environ['GATE_DIR'], os.environ['BASE_DIR']
os.makedirs(gate, exist_ok=True)
con = duckdb.connect()
t0 = time.time()
# shift constants must be shared by BOTH sides of each key's join AND
# exceed both sides' maxima: a part key above the lineitem max (possible
# if the testdata generator drifts — it has, across rounds) would
# otherwise make replica key ranges overlap and silently duplicate
# p_partkey rows, faking a quadratic in every part-joining gate row
mp, mo = con.execute(f"""
    SELECT greatest((SELECT max(l_partkey) FROM '{base}/lineitem.parquet'),
                    (SELECT max(p_partkey) FROM '{base}/part.parquet')),
           greatest((SELECT max(l_orderkey) FROM '{base}/lineitem.parquet'),
                    (SELECT max(o_orderkey) FROM '{base}/orders.parquet'))
""").fetchone()
con.execute(f"""
COPY (
  SELECT li.* REPLACE (li.l_partkey + k.k * {mp + 1} AS l_partkey,
                       li.l_orderkey + k.k * {mo + 1} AS l_orderkey)
  FROM '{base}/lineitem.parquet' li
  CROSS JOIN (SELECT unnest(range(10)) AS k) k
) TO '{gate}/lineitem.parquet' (FORMAT PARQUET)""")
con.execute(f"""
COPY (
  SELECT o.* REPLACE (o.o_orderkey + k.k * {mo + 1} AS o_orderkey)
  FROM '{base}/orders.parquet' o
  CROSS JOIN (SELECT unnest(range(10)) AS k) k
) TO '{gate}/orders.parquet' (FORMAT PARQUET)""")
con.execute(f"""
COPY (
  SELECT p.* REPLACE (p.p_partkey + k.k * {mp + 1} AS p_partkey)
  FROM '{base}/part.parquet' p
  CROSS JOIN (SELECT unnest(range(10)) AS k) k
) TO '{gate}/part.parquet' (FORMAT PARQUET)""")
dmx = con.execute(f"SELECT max(doc_id) FROM '{base}/documents.parquet'").fetchone()[0]
con.execute(f"""
COPY (
  SELECT d.* REPLACE (d.doc_id + k.k * {dmx + 1} AS doc_id,
    CASE WHEN k.k = 0 THEN d.text
         ELSE d.text || ' copyvariant' || CAST(k.k AS VARCHAR) END AS text)
  FROM '{base}/documents.parquet' d
  CROSS JOIN (SELECT unnest(range(10)) AS k) k
) TO '{gate}/documents.parquet' (FORMAT PARQUET)""")
emx = con.execute(f"SELECT max(vec_id) FROM '{base}/embeddings.parquet'").fetchone()[0]
con.execute(f"""
COPY (
  SELECT e.* REPLACE (e.vec_id + k.k * {emx + 1} AS vec_id,
    CASE WHEN k.k = 0 THEN e.embedding
         ELSE list_concat(e.embedding[(k.k*5+1):], e.embedding[1:(k.k*5)])
    END AS embedding)
  FROM '{base}/embeddings.parquet' e
  CROSS JOIN (SELECT unnest(range(10)) AS k) k
) TO '{gate}/embeddings.parquet' (FORMAT PARQUET)""")
vmx = con.execute(
    f"SELECT max(event_id), max(user_id) FROM '{base}/events.parquet'").fetchone()
con.execute(f"""
COPY (
  SELECT e.* REPLACE (e.event_id + k.k * {vmx[0] + 1} AS event_id,
                      e.user_id + k.k * {vmx[1] + 1} AS user_id)
  FROM '{base}/events.parquet' e
  CROSS JOIN (SELECT unnest(range(10)) AS k) k
) TO '{gate}/events.parquet' (FORMAT PARQUET)""")
for t in ['region', 'nation', 'customer', 'supplier']:
    shutil.copy(f'{base}/{t}.parquet', f'{gate}/{t}.parquet')
print(f"generated in {time.time()-t0:.1f}s")
PYEOF
fi

run_scale() {  # $1 = sfDir, $2 = outFile
  # Lead with the fixed-work CPU calibration (graft.Bench --calib): the
  # two scales run in separate sbt processes minutes apart, and the
  # sandbox's 2-3x contention band ACROSS runs otherwise shows up as a
  # fake wall-ratio change (round-16 measured q_mrsim1d_pairs at 18x
  # across-process vs 9.8x paired). The ratio table below divides each
  # scale's walls by its ambient factor.
  # sbt prefixes stdout with "[info] " — strip it; `sed -n` never fails
  # on zero matches (a bare grep under pipefail would abort the script)
  env SPARK_GRAFT_SF_DIR="$1" \
    sbt -batch "runMain graft.Bench --calib" 2>&1 \
    | sed -n 's/^.*\(calib_sec=[0-9.]* calib_ref=[0-9.]* loadavg=[0-9.]*\).*/CALIB \1/p' | tee "$2"
  # Diag each clears session caches before every row, so a 21-row list
  # at 10x cannot pile up persisted results until a row dies of memory
  # pressure (and each row's cost stays honest in isolation).
  # Keep ERR lines visible: a dead row must not masquerade as a fast one.
  env SPARK_GRAFT_SF_DIR="$1" \
    sbt -batch "runMain graft.Diag each ${QUERIES[*]}" 2>&1 \
    | sed -n -e 's/^.*TIMING /TIMING /p' -e 's/^.*ERR /ERR /p' | tee -a "$2"
}

echo "== Diag each at $BASE =="
run_scale "$BASE" /tmp/scale_gate_base.txt
echo "== Diag each at $GATE =="
run_scale "$GATE" /tmp/scale_gate_10x.txt

# Machine-readable artifact (VERDICT r16 item 8): one JSON line of
# {row: {wall_ratio, output_ratio, sec_base, sec_10x, rows_base,
# rows_10x}} — written to $SPARK_GRAFT_SCALE_OUT (default
# SCALE_GATE.json in the repo root) so the scale story is a committed,
# driver-consumable artifact instead of builder-attested prose.
python3 - <<'PYEOF'
import re, json, os
def load(p):
    # calib_ref is parsed from Bench's own --calib line (the one source
    # of truth for CalibRefSec) — no hardcoded copy to drift
    out, calib, ref = {}, None, None
    for line in open(p):
        c = re.match(r'CALIB calib_sec=([0-9.]+) calib_ref=([0-9.]+)', line)
        if c:
            calib, ref = float(c.group(1)), float(c.group(2))
        m = re.match(r'TIMING (\S+)\s+([0-9.]+) s\s+rows=(-?\d+)', line)
        if m:
            out[m.group(1)] = (float(m.group(2)), int(m.group(3)))
    # clamp like Bench: calibration deflates a contended run toward its
    # quiet-box equivalent, never inflates a quiet one
    if calib is None or ref is None:
        # a silent 1.0 here would print raw walls under a header claiming
        # calibration — the exact across-process skew the calibration
        # exists to remove. Be loud instead.
        print(f"WARNING: CALIB line missing in {p} — that side's walls "
              f"are RAW, ratios may carry ambient contention skew")
        return out, 1.0
    return out, min(1.0, ref / calib)
(a, fa), (b, fb) = load('/tmp/scale_gate_base.txt'), load('/tmp/scale_gate_10x.txt')
print(f"\ncalib factors: sf0.1 {fa:.3f}, 10x {fb:.3f} "
      f"(walls below are calibrated; raw ratio would be off by {fb/fa:.2f}x)")
print(f"\n{'query':24s} {'sf0.1':>8s} {'10x':>8s} {'wall':>6s} {'rows0.1':>10s} {'rows10x':>11s} {'outx':>6s}")
worst = []
rows = {}
for q in sorted(a):
    if q not in b:
        print(f"{q:24s} MISSING at 10x"); continue
    (t0, r0), (t1, r1) = a[q], b[q]
    if r0 < 0 or r1 < 0:
        print(f"{q:24s} ERRORED (rows=-1) — rerun; a dead row is not a timing")
        rows[q] = {"error": True}
        continue
    t0, t1 = t0 * fa, t1 * fb
    wall = t1 / t0 if t0 > 0 else float('inf')
    outx = (r1 / r0) if r0 > 0 else float('nan')
    print(f"{q:24s} {t0:8.2f} {t1:8.2f} {wall:5.1f}x {r0:10d} {r1:11d} {outx:5.1f}x")
    rows[q] = {"wall_ratio": round(wall, 2),
               "output_ratio": round(outx, 2) if outx == outx else None,
               "sec_base": round(t0, 2), "sec_10x": round(t1, 2),
               "rows_base": r0, "rows_10x": r1}
    worst.append((wall, q))
worst.sort(reverse=True)
print("\nwall-ratio leaders (quadratic suspects if far above output growth):")
for w, q in worst[:5]:
    print(f"  {q:24s} {w:5.1f}x")
out = os.environ.get("SPARK_GRAFT_SCALE_OUT", "SCALE_GATE.json")
line = json.dumps({"metric": "scale_gate_10x",
                   "calib_factor_base": round(fa, 3),
                   "calib_factor_10x": round(fb, 3),
                   "queries": rows}, separators=(",", ":"))
with open(out, "w") as f:
    f.write(line + "\n")
print(f"\nwrote {out}")
print(line)
PYEOF
