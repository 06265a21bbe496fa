"""Cross-engine seam fuzzer: run IDENTICAL random filter/agg SQL on
Spark and DuckDB over the same parquet and diff the results through
the driver-faithful comparison (strict multiset + pandas string view).

Purpose: HUNT for unattested semantic seams (comparison, grouping,
aggregation, literal-typing differences) beyond the hand-written
forced-boundary differentials. Constants are SAMPLED from the actual
data so equality/BETWEEN/IN predicates land exactly ON data values —
the boundary regime where engines diverge if they're going to.
Any divergence found here gets triaged and pinned as a deterministic
test in tests/test_random_differential.py; this tool itself is a
campaign runner, not part of the pytest gate (seeded, so any finding
is reproducible: rerun with --seed N).

Usage: python tools/fuzz_seams.py [--n 300] [--seed-base 0]
       [--sf /root/testdata/sf0.01] [--shapes stringfunc,setop]
Prints one line per case; exits nonzero if any case diverges.

Shape families (28): single-table filter+agg, PK-FK inner/LEFT join,
three-table chain/star joins with per-hop INNER/LEFT mixing,
rank-filter/running-sum windows OVER a PK-FK join,
total-order top-k, calendar extraction + date_trunc/interval bounds,
window (rank-filter / running / lag), string-function grouping,
UNION/INTERSECT/EXCEPT set ops, IN/EXISTS/scalar subqueries,
GROUPING SETS / ROLLUP / CUBE with GROUPING() indicators,
NULL-injection (NULLIF/COALESCE/CASE over a NULL-free corpus), and —
r12, aimed where the seed-25995 catch said the under-explored regime
is (empty and near-empty groups under composed operators) — HAVING
over empty grouped inputs composed with set ops, outer-join +
aggregate over fully-null-extended sides, and window frames over
single-row/empty partitions; plus (r12 second wave, after the
implicit-ASC-NULLS pin) NULLIF-injection inside window frames with
explicitly-spelled NULLS ordering, and set ops composed over window
outputs; r13 extended nullframe with MULTI-LEVEL NULLIF (nested
injection nulling two sampled values, injection on the PARTITION BY
key — NULL forms its own partition — and two-site nullable rank
keys, always with explicit NULLS FIRST/LAST) and added THREE new
families: grouping sets/ROLLUP/CUBE over window outputs
(winsetgroup, HAVING-guarded), multi-level NULLIF on JOIN keys
(nullkeyjoin — `=` drops NULL pairs, LEFT re-extends them), and
NTILE bucket shapes under the house total order (ntilefuzz,
buckets >> rows half the time); r14 added THREE more: RANGE frames
over NULLIF'd order keys as a full family (rangenull — NULL peer
groups under every bound/direction combination, previously
micro-probed only), null-safe join keys via the engine-shared
IS NOT DISTINCT FROM spelling over multi-level-NULLIF'd and
modulo-bucketed keys with a pre-aggregated dim (nsafejoin), and
MAD/median algebra (medianalg — grouped median(c*2) / binary-exact
percentile_cont WITHIN GROUP over c*4 / the self-joined mad4 shape,
with NULLIF'd inputs and HAVING over the median); r15 added histalg
(histogram-quantile algebra, see _gen_histalg) and a second wave of
TWO more: mode/frequent-items algebra (modefreq — RANK-kept ties,
strict/non-strict integer share thresholds, NULL frequency classes)
and LATERAL over window outputs (latwin — decorrelated RANK filters,
agg-over-running-sum, ORDER BY window + LIMIT under a total order).
Campaign log: the machine-readable LEDGER table below (range ->
families/SF/round; print + attest it with --ledger).  Every recorded
range ran CLEAN unless a seam is named here.  Seams found by
campaign, newest first: r15 seed 110004 (comma-LATERAL + ungrouped
aggregate silently prunes empty-slice outers on DuckDB only ->
RULE 13 + the LEFT JOIN LATERAL sanctioned spelling); r15 seed 87015
(a FIXTURE hazard, not a seam: (l_orderkey, l_linenumber) is NOT
unique in this testdata, so running sums append the SUMMAND as the
final sort key); the r15 hand probes beside the campaigns pinned
RULE 11 (floor/ceil/sign result types) and RULE 12 (max_by/min_by
tie + NULL-value divergence).  The r12
probe sweeps pinned SIX new cross-engine seams (all in
tests/test_random_differential.py, each with aligned regimes and a
sanctioned shared spelling): implicit-ASC NULLS placement,
concat()-over-NULL, the ANSI-off arithmetic domain edges (silent
BIGINT wraparound vs raise; ln/sqrt NULL-vs-raise), Unicode full
case folding (upper('ss'-sharp) / lower(dotted-I)), the string-cast
+ DECIMAL-scale-reduction cluster, and the DATE+INTERVAL result-type
seam. The r12 probe that
seeded the nullframe family found one new PINNED seam: implicit ASC
places NULLs FIRST in Spark, LAST in DuckDB (divergent ranks and
LIMIT rows; test_implicit_asc_nulls_ordering_cross_engine_seam) —
the generators therefore ALWAYS spell NULLS FIRST/LAST when ordering
by a nullable expression. FIRST REAL CATCH at seed
25995: ROLLUP over an empty input — DuckDB emits the grand-total ()
row (COUNT=0, per the SQL standard), Spark emits NOTHING. Triaged,
pinned (test_empty_input_grand_total_grouping_set_cross_engine_seam)
and closed in the groupsets generator with a symmetric
HAVING COUNT(*) > 0; every other case across all campaigns agreed. One transient non-OK in a pre-deterministic-sampler
13000 run could not be replayed (the sampler nondeterminism fixed
below was the cause of irreproducibility); the full range is clean
under the deterministic sampler.

Design notes (why the generated SQL subset looks like it does):
- Float literals go through CAST('<repr>' AS DOUBLE) on BOTH engines:
  bare decimal literals parse as DECIMAL in both Spark and DuckDB and
  round doubles (pinned r11, NOTES "hard-won fixes").
- SUM over doubles is floored to integer cents first (house style):
  cross-engine double SUM depends on fold order, which is a known and
  accepted non-seam.
- String LIKE patterns are sampled alphanumeric prefixes only; no
  escaping seam is being hunted here (the CSV sentinel tests own it).
- concat() is used only over provably NON-NULL arguments: Spark
  concat NULL-propagates, DuckDB concat skips NULLs (r12 pinned seam,
  test_concat_null_handling_cross_engine_seam) — null-propagating
  concatenation is spelled `||` (aligned), null-skipping wraps
  COALESCE. Probe-attested aligned: greatest/least (both skip),
  `+`/repeat (both propagate), string_agg (both skip).
- Ordering by a NULLABLE expression always spells NULLS FIRST/LAST:
  implicit ASC is Spark-NULLS-FIRST vs DuckDB-NULLS-LAST (r12 pinned
  seam, test_implicit_asc_nulls_ordering_cross_engine_seam);
  implicit DESC happens to agree but is spelled anyway.
- No string->numeric/date CASTs and no DECIMAL scale-reduction CASTs
  in shared SQL: invalid strings are NULL-vs-raise, '1e3' and '3.7'
  parse to DIFFERENT ints, and DECIMAL(p,1)->DECIMAL(p,0) is half-up
  in Spark vs truncate in DuckDB (all pinned r12,
  test_string_and_decimal_cast_edges_cross_engine_seam). Division by
  a possibly-zero divisor is never emitted (ANSI-off Spark NULLs and
  DuckDB NULLs agree, but ANSI Spark raises — see
  test_arith_domain_edges_cross_engine_seam, which also attests the
  silent BIGINT wraparound hazard and the ln/sqrt domain raises).
- events/props and embeddings are excluded: JSON strings and arrays
  have their own typed differentials.
"""

from __future__ import annotations

import argparse
import random
import re
import sys

TABLE_COLS = {
    "lineitem": dict(
        ints=["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"],
        floats=["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        strs=["l_returnflag", "l_linestatus"],
        dates=["l_shipdate"],
        groups=["l_returnflag", "l_linestatus", "l_linenumber"],
    ),
    "orders": dict(
        ints=["o_orderkey", "o_custkey"],
        floats=["o_totalprice"],
        strs=["o_orderstatus", "o_orderpriority"],
        dates=["o_orderdate"],
        groups=["o_orderstatus", "o_orderpriority"],
    ),
    "part": dict(
        ints=["p_partkey", "p_size"],
        floats=["p_retailprice"],
        strs=["p_name", "p_brand", "p_type"],
        dates=[],
        groups=["p_brand", "p_type", "p_size"],
    ),
    "customer": dict(
        ints=["c_custkey", "c_nationkey"],
        floats=["c_acctbal"],
        strs=["c_name", "c_mktsegment"],
        dates=[],
        groups=["c_mktsegment", "c_nationkey"],
    ),
    "supplier": dict(
        ints=["s_suppkey", "s_nationkey"],
        floats=["s_acctbal"],
        strs=["s_name"],
        dates=[],
        groups=["s_nationkey"],
    ),
    "documents": dict(
        ints=["doc_id", "n_chars"],
        floats=[],
        strs=["lang", "source"],
        dates=[],
        groups=["lang", "source"],
    ),
}

# ---------------------------------------------------------------------------
# Campaign LEDGER (r15 verdict #7): every fuzz campaign ever run, as a
# machine-readable table instead of prose.  Each entry:
#   (seed_lo, seed_hi_inclusive, sf, families, round)
# families "mixed" = the full _DEFAULT_MIX of the day; a comma list =
# --shapes subset.  All ranges ran CLEAN (0 divergences); the seams
# the campaigns DID find are narrated in the module docstring and
# pinned in tests/test_random_differential.py.  Attest with --ledger:
# it prints the table, checks ranges are disjoint/sorted, and sums
# per-round + cumulative counts.  New campaigns append here in the
# same commit that runs them.
# Families run by a dedicated runner outside _gen_query (their cases
# are stream-vs-stream differentials, not shared-SQL): the ledger
# records them alongside the SQL families.
_EXTERNAL_FAMILIES = {"chunkreplay"}  # tools/fuzz_replay.py

LEDGER: tuple[tuple[int, int, str, str, str], ...] = (
    (0, 499, "0.01", "mixed", "r11"),
    (1000, 1399, "0.01", "mixed", "r11"),
    (2000, 2299, "0.01", "mixed", "r11"),
    (3000, 3299, "0.01", "mixed", "r11"),
    (4000, 4099, "0.01", "stringfunc", "r11"),
    (5000, 5099, "0.01", "setop", "r11"),
    (6000, 6099, "0.01", "subquery", "r11"),
    (7000, 7299, "0.01", "mixed", "r11"),
    (8000, 8079, "0.01", "groupsets", "r11"),
    (9000, 9119, "0.01", "nullcase,datefunc", "r11"),
    (10000, 10499, "0.01", "mixed", "r11"),
    (11000, 11119, "0.01", "multijoin", "r11"),
    (13000, 13299, "0.01", "mixed", "r11"),
    (15000, 15299, "0.01", "mixed", "r11"),
    (16000, 16199, "0.1", "mixed", "r11"),
    (17000, 17079, "0.01", "joinwindow", "r11"),
    (18000, 18599, "0.01", "mixed", "r11"),
    (19000, 19599, "0.01", "mixed", "r11"),
    (20000, 20299, "0.001", "mixed", "r11"),
    (21000, 21999, "0.01", "mixed", "r11"),
    (22000, 23499, "0.01", "mixed", "r11"),
    (24000, 25999, "0.01", "mixed", "r11"),  # seed 25995: ROLLUP-on-empty
    (26000, 27499, "0.01", "mixed", "r11"),  # post-HAVING-guard
    (28000, 28059, "0.001", "emptyset,outeragg,winframe", "r12"),
    (28100, 28639, "0.001", "emptyset,outeragg,winframe", "r12"),
    (29000, 29499, "0.01", "emptyset,outeragg,winframe", "r12"),
    (30000, 30499, "0.01", "mixed", "r12"),
    (31000, 31999, "0.01", "mixed", "r12"),
    (32000, 32499, "0.001", "emptyset,outeragg,winframe", "r12"),
    (33000, 33199, "0.1", "mixed", "r12"),
    (34000, 34079, "0.01", "nullframe,winsetop", "r12"),
    (35000, 35499, "0.01", "nullframe,winsetop", "r12"),
    (36000, 36499, "0.01", "mixed", "r12"),
    (37000, 37299, "0.1",
     "emptyset,outeragg,winframe,nullframe,winsetop", "r12"),
    (38000, 38119, "0.01", "nullframe", "r12"),  # post-floor-fix
    (39000, 39999, "0.01", "mixed", "r12"),
    (40000, 40399, "0.001", "nullframe,winsetop,emptyset", "r12"),
    (41000, 42499, "0.01", "mixed", "r12"),
    (43000, 44499, "0.001", "mixed", "r12"),
    (45000, 45999, "0.1", "mixed", "r12"),
    (47000, 47119, "0.01", "nullframe", "r13"),
    (48000, 48499, "0.01", "nullframe", "r13"),
    (49000, 49499, "0.1",
     "emptyset,outeragg,winframe,nullframe,winsetop", "r13"),
    (50000, 50499, "0.1", "mixed", "r13"),
    (51000, 51499, "0.01", "mixed", "r13"),
    (52000, 52999, "0.01", "mixed", "r13"),
    (53000, 53299, "0.001", "nullframe,winsetop", "r13"),
    (54000, 54119, "0.01", "winsetgroup,nullkeyjoin,ntilefuzz", "r13"),
    (55000, 55599, "0.01", "winsetgroup,nullkeyjoin,ntilefuzz", "r13"),
    (56000, 56299, "0.001", "winsetgroup,nullkeyjoin,ntilefuzz", "r13"),
    (57000, 57299, "0.1", "winsetgroup,nullkeyjoin,ntilefuzz", "r13"),
    (58000, 58999, "0.01", "mixed", "r13"),
    (59000, 59299, "0.1", "mixed", "r13"),
    (60000, 61199, "0.01", "mixed", "r13"),
    (62000, 62299, "0.1", "mixed", "r13"),
    (63000, 63599, "0.01", "mixed", "r13"),
    (64000, 64029, "0.01", "rangenull,nsafejoin,medianalg", "r14"),
    (72000, 72599, "0.01", "rangenull,nsafejoin,medianalg", "r15"),
    (73000, 73299, "0.001", "rangenull,nsafejoin,medianalg", "r15"),
    (74000, 74299, "0.1", "rangenull,nsafejoin,medianalg", "r15"),
    (75000, 75999, "0.01", "mixed", "r15"),
    (76000, 76299, "0.1", "mixed", "r15"),
    (77000, 77119, "0.01", "stringfunc", "r15"),  # RULE-10 spellings ext
    (78000, 78399, "0.01", "stringfunc,setop,winsetop", "r15"),
    (79000, 79399, "0.01", "mixed", "r15"),
    (80000, 80119, "0.01", "histalg", "r15"),
    (81000, 81399, "0.01", "histalg", "r15"),
    (82000, 82199, "0.001", "histalg,medianalg", "r15"),
    (83000, 83199, "0.1", "histalg", "r15"),
    (84000, 84599, "0.01", "mixed", "r15"),
    (85000, 85999, "0.01", "mixed", "r15"),
    (86000, 86399, "0.001", "mixed", "r15"),
    (87000, 87039, "0.01", "modefreq,latwin", "r15"),  # seed 87015 hazard
    (88000, 88399, "0.01", "modefreq,latwin", "r15"),
    (89000, 89199, "0.001", "modefreq,latwin", "r15"),
    (90000, 90199, "0.1", "modefreq,latwin", "r15"),
    (91000, 91599, "0.01", "mixed", "r15"),
    (92000, 92999, "0.01", "mixed", "r15"),
    (93000, 93399, "0.001", "mixed", "r15"),
    (94000, 94399, "0.1", "mixed", "r15"),
    (95000, 95059, "0.01", "modefreq,latwin", "r15"),  # setop/winover/gsets
    (96000, 96499, "0.01", "modefreq,latwin", "r15"),
    (97000, 97199, "0.001", "modefreq,latwin", "r15"),
    (98000, 98199, "0.1", "modefreq,latwin", "r15"),
    (99000, 99499, "0.01", "mixed", "r15"),
    (100000, 100059, "0.01", "modefreq,latwin", "r15"),  # latjoin/rangewin
    (101000, 101499, "0.01", "modefreq,latwin", "r15"),
    (102000, 102199, "0.001", "modefreq,latwin", "r15"),
    (103000, 103199, "0.1", "modefreq,latwin", "r15"),
    (104000, 104599, "0.01", "mixed", "r15"),
    (105000, 105059, "0.01", "latwin", "r15"),  # leftlat flavor
    (106000, 106399, "0.01", "latwin", "r15"),
    (107000, 107199, "0.001", "latwin", "r15"),
    (108000, 108199, "0.1", "latwin", "r15"),
    (109000, 109599, "0.01", "mixed", "r15"),
    (110000, 110079, "0.01", "latwin", "r15"),  # nested2; seed 110004 seam
    (111000, 111399, "0.01", "latwin", "r15"),
    (112000, 112199, "0.001", "latwin", "r15"),
    (113000, 113149, "0.1", "latwin", "r15"),
    (114000, 114599, "0.01", "mixed", "r15"),
    (115000, 115799, "0.01", "mixed", "r15"),  # closing sweep, final tree
    (116000, 116399, "0.01", "latwin", "r15"),  # leftlat COALESCE read-back
    (117000, 117199, "0.001", "latwin", "r15"),
    (120000, 120039, "0.01", "exactrefine", "r16"),  # shakedown
    (121000, 121399, "0.01", "exactrefine", "r16"),
    (122000, 122199, "0.001", "exactrefine", "r16"),
    (123000, 123199, "0.1", "exactrefine", "r16"),
    (124000, 124399, "0.01", "mixed", "r16"),
    (125000, 125199, "0.01", "exactrefine", "r16"),
    (126000, 126299, "0.001", "mixed", "r16"),
    (127000, 127199, "0.1", "mixed", "r16"),
    # 128000-128299's FIRST execution raced a generator edit (the
    # NULLIF-group flavor landed before its g_filter wiring) and
    # showed 13 pipeline-vs-oracle NULL-group rows — pinned in
    # test_refine_pipeline_null_group_key_vs_direct_group_by; the
    # range re-ran CLEAN on the gated tree and is recorded from that
    # run
    (128000, 128299, "0.01", "exactrefine", "r16"),
    (129000, 129059, "0.01", "modefreq,latwin", "r16"),  # mixwin/setop2
    (130000, 130059, "0.01", "exactrefine", "r16"),  # null-group flavor
    (131000, 131499, "0.01", "modefreq,latwin", "r16"),
    (132000, 132199, "0.001", "modefreq,latwin", "r16"),
    (133000, 133199, "0.1", "modefreq,latwin", "r16"),
    (134000, 134399, "0.01", "exactrefine", "r16"),
    (135000, 135599, "0.01", "mixed", "r16"),  # mixed-27 sweep
    (136000, 136059, "0.01", "rollupwin", "r16"),  # shakedown
    (137000, 137399, "0.01", "rollupwin", "r16"),
    (138000, 138199, "0.001", "rollupwin", "r16"),
    (139000, 139199, "0.1", "rollupwin", "r16"),
    (140000, 140499, "0.01", "mixed", "r16"),  # mixed-28
    (141000, 141299, "0.01", "exactrefine", "r16"),  # pdisc oracle leg
    (142000, 142079, "0.01", "exactrefine", "r16"),  # joined-src shakedown
    (143000, 143399, "0.01", "exactrefine", "r16"),  # joined sources
    (144000, 144199, "0.1", "exactrefine", "r16"),
    (145000, 145199, "0.001", "exactrefine", "r16"),
    (146000, 146299, "0.01", "rollupwin", "r16"),  # rankwin2 flavor
    (147000, 147149, "0.001", "rollupwin", "r16"),
    (148000, 148399, "0.01", "mixed", "r16"),  # closing mixed-28
    (149000, 149999, "0.01", "mixed", "r16"),  # idle-time volume
    (150000, 150399, "0.001", "mixed", "r16"),
    (151000, 151299, "0.1", "mixed", "r16"),
    # --- r17: exactrefine UNION'd-sources wave + rollupwin CUBE-3 ---
    (152000, 152039, "0.01", "exactrefine,rollupwin", "r17"),  # shakedown
    (152100, 152129, "0.01", "rollupwin", "r17"),  # cube3 shakedown
    (153000, 154199, "0.01", "exactrefine", "r17"),  # union wave
    (155000, 155199, "0.001", "exactrefine", "r17"),
    (156000, 156199, "0.1", "exactrefine", "r17"),
    (157000, 157799, "0.01", "rollupwin", "r17"),  # cube3 wave
    (158000, 158199, "0.001", "rollupwin", "r17"),
    (159000, 159199, "0.1", "rollupwin", "r17"),
    # chunkreplay (tools/fuzz_replay.py, sf0.001 streaming fixtures):
    # mixed = ~80% ordered-equivalence + ~20% disordered late-drop
    # negatives; "negative" ranges are ALL disordered (the assertion
    # IS the late-drop/invariance, so a passing case is clean)
    (162000, 162519, "0.001", "chunkreplay", "r17"),  # mixed (408 ordered)
    (163200, 163349, "0.001", "chunkreplay", "r17"),  # negatives
    (164000, 164299, "0.01", "rollupwin", "r17"),  # cube3 top-up (613 3-col)
    (165000, 165119, "0.001", "chunkreplay", "r17"),  # ordered top-up
    (166000, 166499, "0.01", "mixed", "r17"),  # closing mixed-28
    (167000, 167199, "0.001", "mixed", "r17"),
    (168000, 168149, "0.1", "mixed", "r17"),
    (169300, 169449, "0.001", "chunkreplay", "r17"),  # +session pipeline
    (170000, 170299, "0.01", "mixed", "r17"),  # idle-time volume
    (171000, 171199, "0.001", "mixed", "r17"),
    # --- r18: the three open corners at volume (verdict #5) ---
    (172000, 172299, "0.001", "chunkreplay", "r18"),  # tie mode
    (173000, 173199, "0.01", "chunkreplay", "r18"),  # tie at sf0.01
    (174000, 174599, "0.01", "exactrefine", "r18"),  # union-of-joins
    (175000, 175199, "0.001", "exactrefine", "r18"),
    (176000, 176199, "0.1", "exactrefine", "r18"),
    (177000, 177599, "0.01", "rollupwin", "r18"),  # NULLIF+2-prefix combo
    # --- r18c: corner closure at the other SFs + the widecross family ---
    (178000, 178299, "0.001", "rollupwin", "r18"),  # combo at sf0.001
    (179000, 179099, "0.1", "chunkreplay", "r18"),  # tie at sf0.1
    (180000, 180199, "0.1", "rollupwin", "r18"),  # combo at sf0.1
    (181000, 181299, "0.01", "widecross", "r18"),  # int64-crossing thresholds
    (182000, 182199, "0.001", "widecross", "r18"),
    (183000, 183199, "0.1", "widecross", "r18"),
    (184000, 184299, "0.01", "widecross", "r18"),  # +joined sources
    (185000, 185149, "0.1", "widecross", "r18"),
)


def ledger_report(out=None) -> bool:
    """Print the campaign table + per-round and cumulative totals;
    return True iff the ledger is structurally sound (sorted, disjoint,
    known families, known SFs)."""
    import sys as _sys

    out = out or _sys.stdout
    ok = True
    prev_hi = -1
    per_round: dict[str, int] = {}
    for lo, hi, sf, fams, rnd in LEDGER:
        n = hi - lo + 1
        if lo <= prev_hi or hi < lo:
            ok = False
            print(f"LEDGER ERROR: range {lo}-{hi} overlaps/backwards",
                  file=out)
        prev_hi = hi
        if sf not in ("0.001", "0.01", "0.1"):
            ok = False
            print(f"LEDGER ERROR: unknown sf {sf!r} at {lo}", file=out)
        if fams != "mixed":
            unknown = (set(fams.split(",")) - set(_SHAPES)
                       - _EXTERNAL_FAMILIES)
            if unknown:
                ok = False
                print(f"LEDGER ERROR: unknown families {sorted(unknown)} "
                      f"at {lo}", file=out)
        per_round[rnd] = per_round.get(rnd, 0) + n
        print(f"{lo:>7}-{hi:<7} sf{sf:<6} {rnd:<4} n={n:<5} {fams}",
              file=out)
    total = sum(per_round.values())
    print("-" * 60, file=out)
    for rnd in sorted(per_round):
        print(f"{rnd}: {per_round[rnd]:,} cases", file=out)
    print(f"TOTAL: {total:,} clean cases across {len(LEDGER)} campaigns"
          f" ({'OK' if ok else 'STRUCTURALLY BROKEN'})", file=out)
    return ok


_CMP = ["<", "<=", "=", ">=", ">", "<>"]


def _lit(kind: str, v) -> str:
    if kind == "float":
        return f"CAST('{v!r}' AS DOUBLE)"
    if kind == "date":
        return f"TIMESTAMP '{v}'"
    if kind == "str":
        return "'" + str(v).replace("'", "''") + "'"
    return str(int(v))


def _sample_values(con, table: str, col: str, rng: random.Random, k: int):
    """Deterministic data-directed constants: md5-ranked DISTINCT
    values. DuckDB's seeded reservoir sample is NOT reproducible under
    multithreading, which made campaign replays generate different SQL
    for the same seed — an early 13000-range campaign logged one
    unreproducible failure for exactly that reason. md5 ranking makes
    every seed's query byte-stable across runs."""
    salt = rng.randrange(1 << 30)
    rows = con.execute(
        f"SELECT v FROM (SELECT DISTINCT {col} AS v FROM {table} "
        f"WHERE {col} IS NOT NULL) "
        f"ORDER BY md5(concat(CAST(v AS VARCHAR), '{salt}')) LIMIT {k}"
    ).fetchall()
    return [r[0] for r in rows]


def _gen_predicate(con, table: str, cols: dict, rng: random.Random) -> str:
    kind = rng.choice(
        ["int"] * 3 + (["float"] * 3 if cols["floats"] else [])
        + (["str"] * 2 if cols["strs"] else [])  # _UNION_COLS_INT has none
        + (["date"] * 2 if cols["dates"] else [])
    )
    col = rng.choice(cols[{"int": "ints", "float": "floats",
                           "str": "strs", "date": "dates"}[kind]])
    shape = rng.choice(["cmp", "cmp", "cmp", "between", "in", "like"])
    if shape == "like" and kind != "str":
        shape = "cmp"
    vals = _sample_values(con, table, col, rng, 3)
    if not vals:
        return "1=1"
    if shape == "cmp":
        return f"{col} {rng.choice(_CMP)} {_lit(kind, vals[0])}"
    if shape == "between":
        lo, hi = sorted(vals[:2]) if len(vals) >= 2 else (vals[0], vals[0])
        return f"{col} BETWEEN {_lit(kind, lo)} AND {_lit(kind, hi)}"
    if shape == "in":
        return f"{col} IN (" + ", ".join(_lit(kind, v) for v in vals) + ")"
    # like: alphanumeric prefix of a sampled value
    s = str(vals[0])
    pfx = "".join(ch for ch in s[: rng.randint(1, max(1, len(s) // 2))]
                  if ch.isalnum() or ch in "# ")
    return f"{col} LIKE '{pfx}%'"


# PK-FK edges for join shapes: (fact, dim, fact_key, dim_key)
_JOINS = [
    ("orders", "customer", "o_custkey", "c_custkey"),
    ("lineitem", "orders", "l_orderkey", "o_orderkey"),
    ("lineitem", "part", "l_partkey", "p_partkey"),
    ("lineitem", "supplier", "l_suppkey", "s_suppkey"),
]

# two-hop chains: fact -> mid -> far (lineitem->orders->customer) and
# star pairs: fact -> dim1, fact -> dim2
_CHAINS = [
    ("lineitem", "orders", "l_orderkey", "o_orderkey",
     "customer", "o_custkey", "c_custkey"),
]
_STARS = [
    ("lineitem", "part", "l_partkey", "p_partkey",
     "supplier", "l_suppkey", "s_suppkey"),
    ("lineitem", "orders", "l_orderkey", "o_orderkey",
     "part", "l_partkey", "p_partkey"),
]


def _gen_aggs(cols: dict, rng: random.Random, qual: str = "") -> list[str]:
    aggs = ["COUNT(*) AS n_rows"]
    if cols["floats"] and rng.random() < 0.8:
        c = qual + rng.choice(cols["floats"])
        aggs.append(
            f"CAST(SUM(CAST(floor({c} * 100 + 0.5) AS BIGINT)) AS BIGINT)"
            f" AS sum_cents"
        )
    if rng.random() < 0.6:
        c = qual + rng.choice(cols["ints"])
        aggs.append(f"MIN({c}) AS min_i")
        aggs.append(f"MAX({c}) AS max_i")
    if cols["strs"] and rng.random() < 0.5:
        c = qual + rng.choice(cols["strs"])
        aggs.append(f"MIN({c}) AS min_s")
    if rng.random() < 0.5:
        c = qual + rng.choice(cols["ints"] + cols["strs"])
        aggs.append(f"COUNT(DISTINCT {c}) AS n_dist")
    return aggs


def _gen_single_table(con, rng: random.Random) -> str:
    table = rng.choice(sorted(TABLE_COLS))
    cols = TABLE_COLS[table]
    preds = [_gen_predicate(con, table, cols, rng)
             for _ in range(rng.randint(1, 2))]
    if rng.random() < 0.25:
        preds[0] = f"NOT ({preds[0]})"
    conj = " OR " if (len(preds) > 1 and rng.random() < 0.3) else " AND "
    where = conj.join(f"({p})" for p in preds)
    aggs = _gen_aggs(cols, rng)
    if rng.random() < 0.7:
        g = rng.choice(cols["groups"])
        having = ""
        if rng.random() < 0.3:
            having = f" HAVING COUNT(*) >= {rng.randint(1, 5)}"
        return (f"SELECT {g} AS grp, " + ", ".join(aggs)
                + f" FROM {table} WHERE {where} GROUP BY {g}{having}")
    return "SELECT " + ", ".join(aggs) + f" FROM {table} WHERE {where}"


def _gen_join(con, rng: random.Random) -> str:
    """PK-FK join shapes, inner or LEFT. LEFT + a dim-side predicate
    placed in the ON clause keeps null-extended rows flowing into the
    aggregates — the NULL-handling regime (COUNT(col) vs COUNT(*),
    MIN/MAX over null groups) where engines could diverge."""
    fact, dim, fk, pk = rng.choice(_JOINS)
    fc, dc = TABLE_COLS[fact], TABLE_COLS[dim]
    join_kind = rng.choice(["JOIN", "JOIN", "LEFT JOIN"])
    fact_pred = _gen_predicate(con, fact, fc, rng)
    dim_pred = _gen_predicate(con, dim, dc, rng)
    aggs = ["COUNT(*) AS n_rows"]
    if dc["strs"]:
        c = rng.choice(dc["strs"])
        aggs.append(f"COUNT({dim}.{c}) AS n_dim")  # null-extension count
        aggs.append(f"MIN({dim}.{c}) AS min_ds")
    if fc["floats"]:
        c = rng.choice(fc["floats"])
        aggs.append(
            f"CAST(SUM(CAST(floor({fact}.{c} * 100 + 0.5) AS BIGINT)) "
            f"AS BIGINT) AS sum_cents"
        )
    if dc["ints"] and rng.random() < 0.6:
        c = rng.choice(dc["ints"])
        aggs.append(f"MIN({dim}.{c}) AS min_di")
        aggs.append(f"MAX({dim}.{c}) AS max_di")
    g = rng.choice(fc["groups"])
    if join_kind == "LEFT JOIN":
        on = f"{fact}.{fk} = {dim}.{pk} AND ({dim_pred})"
        where = f"({fact_pred})"
    else:
        on = f"{fact}.{fk} = {dim}.{pk}"
        where = f"({fact_pred}) AND ({dim_pred})"
    return (f"SELECT {fact}.{g} AS grp, " + ", ".join(aggs)
            + f" FROM {fact} {join_kind} {dim} ON {on}"
            + f" WHERE {where} GROUP BY {fact}.{g}")


def _gen_multijoin(con, rng: random.Random) -> str:
    """Three-table shapes — a two-hop CHAIN (lineitem->orders->
    customer) or a STAR (fact + two dims) — with each join
    independently INNER or LEFT. Exercises join reordering and
    multi-hop null extension: a LEFT chain's far-dim columns are NULL
    whenever EITHER hop misses, and the COUNT(col)/MIN over those
    columns must agree. LEFT-join dim predicates live in ON (so
    null-extended rows survive); INNER-join predicates in WHERE."""
    star = rng.random() < 0.5
    if star:
        fact, d1, fk1, pk1, d2, fk2, pk2 = rng.choice(_STARS)
        hops = [(d1, fk1, pk1, fact), (d2, fk2, pk2, fact)]
    else:
        fact, d1, fk1, pk1, d2, fk2, pk2 = rng.choice(_CHAINS)
        hops = [(d1, fk1, pk1, fact), (d2, fk2, pk2, d1)]
    fc = TABLE_COLS[fact]
    g = rng.choice(fc["groups"])
    where = [f"({_gen_predicate(con, fact, fc, rng)})"]
    joins = []
    for dim, fk, pk, left_tbl in hops:
        dc = TABLE_COLS[dim]
        kind = rng.choice(["JOIN", "LEFT JOIN"])
        pred = _gen_predicate(con, dim, dc, rng)
        if kind == "LEFT JOIN":
            joins.append(f"LEFT JOIN {dim} ON {left_tbl}.{fk} = "
                         f"{dim}.{pk} AND ({pred})")
        else:
            joins.append(f"JOIN {dim} ON {left_tbl}.{fk} = {dim}.{pk}")
            where.append(f"({pred})")
    aggs = ["COUNT(*) AS n_rows"]
    for i, (dim, _, pk, _) in enumerate(hops):
        dc = TABLE_COLS[dim]
        aggs.append(f"COUNT({dim}.{pk}) AS n_d{i}")
        if dc["strs"]:
            aggs.append(f"MIN({dim}.{rng.choice(dc['strs'])}) AS min_s{i}")
    if fc["floats"]:
        c = rng.choice(fc["floats"])
        aggs.append(
            f"CAST(SUM(CAST(floor({fact}.{c} * 100 + 0.5) AS BIGINT)) "
            f"AS BIGINT) AS sum_cents"
        )
    return (f"SELECT {fact}.{g} AS grp, " + ", ".join(aggs)
            + f" FROM {fact} " + " ".join(joins)
            + f" WHERE " + " AND ".join(where)
            + f" GROUP BY {fact}.{g}")


def _gen_topk(con, rng: random.Random) -> str:
    """ORDER BY + LIMIT with a unique-key tie-break (total order), the
    deterministic top-k regime; stresses NULLS ordering defaults only
    through non-null TPC-H columns, so the order is engine-stable."""
    table = rng.choice(["orders", "part", "customer", "supplier",
                        "documents"])
    cols = TABLE_COLS[table]
    key = cols["ints"][0]  # unique PK first in every ints list
    sort_col = rng.choice(
        cols["strs"] + cols["ints"]
        + (cols["dates"] if cols["dates"] else [])
    )
    direction = rng.choice(["ASC", "DESC"])
    pred = _gen_predicate(con, table, cols, rng)
    k = rng.randint(1, 50)
    out = [key, sort_col] if sort_col != key else [key]
    return (f"SELECT " + ", ".join(out)
            + f" FROM {table} WHERE ({pred})"
            + f" ORDER BY {sort_col} {direction}, {key} {direction}"
            + f" LIMIT {k}")


def _gen_datefunc(con, rng: random.Random) -> str:
    """Calendar extraction grouping + conditional-count aggregates.
    year/month/quarter/day agree across engines (dayofweek does NOT —
    Spark Sunday=1 vs DuckDB Sunday=0 — already aligned engine-side in
    date_funcs and pinned by its differential, so it is deliberately
    NOT fuzzed here)."""
    table = rng.choice(["orders", "lineitem"])
    cols = TABLE_COLS[table]
    d = cols["dates"][0]
    pred = _gen_predicate(con, table, cols, rng)
    flag_pred = _gen_predicate(con, table, cols, rng)
    if rng.random() < 0.4:
        # date_trunc grouping + interval-shifted bound (probed aligned
        # 2026-08-15 incl. week->Monday and month-end clamping; CAST to
        # DATE because Spark's date_trunc returns TIMESTAMP, DuckDB's
        # DATE — a type, not value, difference)
        unit = rng.choice(["month", "quarter", "year", "week"])
        anchor = _sample_values(con, table, d, rng, 1)
        iv = rng.choice(
            [f"INTERVAL {rng.randint(1, 6)} MONTH",
             f"INTERVAL {rng.randint(1, 90)} DAY"]
        )
        op = rng.choice(["+", "-"])
        shift = (f"{d} {rng.choice(['<=', '>', '>=', '<'])} "
                 f"TIMESTAMP '{anchor[0]}' {op} {iv}") if anchor else "1=1"
        key = f"CAST(date_trunc('{unit}', {d}) AS DATE)"
        return (
            f"SELECT {key} AS k0, COUNT(*) AS n_rows, "
            f"CAST(SUM(CASE WHEN ({flag_pred}) THEN 1 ELSE 0 END) "
            f"AS BIGINT) AS n_flag"
            f" FROM {table} WHERE ({pred}) AND ({shift}) GROUP BY {key}"
        )
    fns = rng.sample(["year", "month", "quarter", "day"], k=2)
    keys = [f"{fn}({d})" for fn in fns]
    sel = ", ".join(f"CAST({k} AS INT) AS k{i}" for i, k in enumerate(keys))
    return (
        f"SELECT {sel}, COUNT(*) AS n_rows, "
        f"CAST(SUM(CASE WHEN ({flag_pred}) THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS n_flag"
        f" FROM {table} WHERE ({pred}) GROUP BY " + ", ".join(keys)
    )


def _gen_window(con, rng: random.Random) -> str:
    """Window shapes with a UNIQUE order key (the PK), so every frame
    is a total order and both engines must agree exactly. Running SUM
    is over integer cents CAST to BIGINT on the outside (DuckDB's
    windowed SUM(BIGINT) is HUGEINT — the r5-pinned seam). Three
    flavors: ranked-filter (qualify-style), running sum, lag diff."""
    table = rng.choice(["orders", "part", "customer", "supplier"])
    cols = TABLE_COLS[table]
    pk = cols["ints"][0]
    g = rng.choice(cols["groups"])
    fcol = cols["floats"][0]
    cents = f"CAST(floor({fcol} * 100 + 0.5) AS BIGINT)"
    pred = _gen_predicate(con, table, cols, rng)
    flavor = rng.choice(["rank_filter", "running", "lag"])
    if flavor == "rank_filter":
        k = rng.randint(1, 5)
        direction = rng.choice(["ASC", "DESC"])
        return (
            f"SELECT grp, {pk}, rn FROM ("
            f"SELECT {g} AS grp, {pk}, ROW_NUMBER() OVER "
            f"(PARTITION BY {g} ORDER BY {cents} {direction}, {pk}) AS rn"
            f" FROM {table} WHERE ({pred})) t WHERE rn <= {k}"
        )
    if flavor == "running":
        return (
            f"SELECT {g} AS grp, {pk}, CAST(SUM({cents}) OVER "
            f"(PARTITION BY {g} ORDER BY {pk} ROWS BETWEEN UNBOUNDED "
            f"PRECEDING AND CURRENT ROW) AS BIGINT) AS run_cents"
            f" FROM {table} WHERE ({pred})"
        )
    return (
        f"SELECT {g} AS grp, {pk}, "
        f"{cents} - LAG({cents}, 1, 0) OVER "
        f"(PARTITION BY {g} ORDER BY {pk}) AS delta_cents"
        f" FROM {table} WHERE ({pred})"
    )


def _frag(con, table: str, col: str, rng: random.Random) -> str:
    """A short inner substring of a sampled value — the regime where
    contains/instr/LIKE-infix predicates actually select subsets."""
    vals = _sample_values(con, table, col, rng, 1)
    s = str(vals[0]) if vals else "a"
    if len(s) == 0:
        return "a"
    i = rng.randrange(len(s))
    f = s[i : i + rng.randint(1, 3)]
    return f.replace("'", "''").replace("%", "").replace("_", "") or "a"


def _gen_str_expr(con, table: str, cols: dict, rng: random.Random) -> str:
    """A grouping expression from the probe-verified aligned function
    pool (upper/lower/substr(pos>=1 or negative)/replace/concat/
    length-cast/split_part/reverse/translate/lpad, plus — r15, fuzzing
    the RULE 10 seam's SANCTIONED spellings — ANSI
    trim(LEADING/TRAILING/BOTH 'x' FROM s) and negative-start substr.
    substr position is NEVER the literal 0 (a pinned divergence,
    test_substr_position_zero / test_substr_zero_trim_order_dow
    cross-engine seams) and character-set trims never use the two-arg
    ltrim/rtrim spelling (argument roles SWAPPED between engines —
    the same seam test); no CAST of doubles to int anywhere (the
    other pinned divergence)."""
    c = rng.choice(cols["strs"])
    k = rng.randint(1, 8)
    pick = rng.randrange(11)
    if pick == 0:
        return f"upper(substr({c}, 1, {k}))"
    if pick == 1:
        return f"lower(substr({c}, 1, {k}))"
    if pick == 2:
        return f"replace(substr({c}, 1, {k}), '{_frag(con, table, c, rng)}', '_')"
    if pick == 3:
        return (f"concat(substr({c}, 1, {min(k, 3)}), '#', "
                f"CAST(length({c}) AS STRING))")
    if pick == 4:
        return f"split_part({c}, ' ', {rng.randint(1, 3)})"
    if pick == 5:
        return f"reverse(substr({c}, 1, {k}))"
    if pick == 6:
        return f"translate(substr({c}, 1, {k}), 'aeiou', 'AEIOU')"
    if pick == 7:
        # negative start: both engines count from the end (aligned
        # regime of the substr seam test); may overshoot the head
        return f"substr({c}, -{k}, {rng.randint(1, 4)})"
    if pick == 8:
        side = rng.choice(["LEADING", "TRAILING", "BOTH"])
        ch = (_frag(con, table, c, rng) or "a")[0]
        if ch == "'":
            ch = "a"
        return f"trim({side} '{ch}' FROM {c})"
    if pick == 9:
        # 1-arg whitespace trims (legal under RULE 10) over a spaced
        # composite so there is actually something to trim
        return f"ltrim(rtrim(concat(' ', substr({c}, 1, {k}), ' ')))"
    i = rng.choice(cols["ints"])
    return f"lpad(CAST({i} % 10 AS STRING), 3, '0')"


def _gen_stringfunc(con, rng: random.Random) -> str:
    """String-function grouping + string predicates over the aligned
    pool. Hunts collation/encoding/slicing seams the fixed-column
    groupings can't reach: grouping keys are COMPUTED strings, and
    predicates select by length/containment/position."""
    table = rng.choice([t for t in sorted(TABLE_COLS)
                        if TABLE_COLS[t]["strs"]])
    cols = TABLE_COLS[table]
    c = rng.choice(cols["strs"])
    pk = cols["ints"][0]
    g = _gen_str_expr(con, table, cols, rng)
    pred_pool = [
        f"length({c}) >= {rng.randint(1, 12)}",
        f"contains({c}, '{_frag(con, table, c, rng)}')",
        f"instr({c}, '{_frag(con, table, c, rng)}') > {rng.randint(0, 2)}",
        f"{c} LIKE '%{_frag(con, table, c, rng)}%'",
        _gen_predicate(con, table, cols, rng),
    ]
    where = " AND ".join(
        f"({p})" for p in rng.sample(pred_pool, k=rng.randint(1, 2))
    )
    aggs = [f"COUNT(*) AS n_rows", f"MIN({pk}) AS min_k",
            f"MAX({pk}) AS max_k"]
    if rng.random() < 0.5:
        aggs.append(f"COUNT(DISTINCT {c}) AS n_dist")
    if rng.random() < 0.4:
        aggs.append(f"MIN({c}) AS min_s")
    return (f"SELECT {g} AS grp, " + ", ".join(aggs)
            + f" FROM {table} WHERE {where} GROUP BY {g}")


def _gen_setop(con, rng: random.Random) -> str:
    """UNION / UNION ALL / INTERSECT / EXCEPT between two filtered
    projections of the same table — the distinct-semantics regime
    (both engines treat INTERSECT/EXCEPT as DISTINCT variants; UNION
    dedups). Projections include a computed string sometimes so the
    dedup happens over expression results, not raw columns."""
    table = rng.choice(sorted(TABLE_COLS))
    cols = TABLE_COLS[table]
    pk = cols["ints"][0]
    op = rng.choice(["UNION", "UNION ALL", "INTERSECT", "EXCEPT"])
    proj_cols = [f"{pk} AS k"]
    r = rng.random()
    if r < 0.4 and cols["strs"]:
        proj_cols.append(f"{rng.choice(cols['strs'])} AS s")
    elif r < 0.7:
        proj_cols.append(f"{rng.choice(cols['ints'])} % 7 AS m")
    elif cols["strs"]:
        proj_cols.append(
            f"{_gen_str_expr(con, table, cols, rng)} AS s")
    proj = ", ".join(proj_cols)
    p1 = _gen_predicate(con, table, cols, rng)
    p2 = _gen_predicate(con, table, cols, rng)
    # EXCEPT/INTERSECT with identical predicates is degenerate-but-legal;
    # keep whatever the rng produced — degenerate cases are boundaries too
    return (f"SELECT {proj} FROM {table} WHERE ({p1}) "
            f"{op} SELECT {proj} FROM {table} WHERE ({p2})")


def _gen_subquery(con, rng: random.Random) -> str:
    """IN / NOT IN / EXISTS / NOT EXISTS / scalar-MIN subqueries.
    NOT IN is safe here because every subquery column is a non-null
    PK; the empty-subquery and empty-scalar (NULL comparison -> no
    rows) boundaries are reachable and must agree."""
    flavor = rng.choice(["in", "not_in", "exists", "not_exists",
                         "scalar", "scalar"])
    if flavor in ("scalar",):
        table = rng.choice(sorted(TABLE_COLS))
        cols = TABLE_COLS[table]
        c = rng.choice(cols["ints"])
        g = rng.choice(cols["groups"])
        inner_pred = _gen_predicate(con, table, cols, rng)
        outer_pred = _gen_predicate(con, table, cols, rng)
        fn = rng.choice(["MIN", "MAX"])
        cmp_op = rng.choice(["<", "<=", ">=", ">", "="])
        return (
            f"SELECT {g} AS grp, COUNT(*) AS n_rows, MIN({c}) AS min_c"
            f" FROM {table} WHERE ({outer_pred}) AND {c} {cmp_op} "
            f"(SELECT {fn}({c}) FROM {table} WHERE ({inner_pred}))"
            f" GROUP BY {g}"
        )
    fact, dim, fk, pk = rng.choice(_JOINS)
    fc, dc = TABLE_COLS[fact], TABLE_COLS[dim]
    g = rng.choice(fc["groups"])
    fact_pred = _gen_predicate(con, fact, fc, rng)
    dim_pred = _gen_predicate(con, dim, dc, rng)
    if flavor in ("in", "not_in"):
        neg = "NOT " if flavor == "not_in" else ""
        cond = (f"{fk} {neg}IN (SELECT {pk} FROM {dim} "
                f"WHERE ({dim_pred}))")
    else:
        neg = "NOT " if flavor == "not_exists" else ""
        cond = (f"{neg}EXISTS (SELECT 1 FROM {dim} "
                f"WHERE {dim}.{pk} = {fact}.{fk} AND ({dim_pred}))")
    return (
        f"SELECT {g} AS grp, COUNT(*) AS n_rows, "
        f"MIN({fk}) AS min_fk, MAX({fk}) AS max_fk"
        f" FROM {fact} WHERE ({fact_pred}) AND {cond} GROUP BY {g}"
    )


def _gen_nullcase(con, rng: random.Random) -> str:
    """NULL-injection shapes: the TPC-H-ish corpus is NULL-free, so
    NULLIF(col, sampled-value) manufactures NULLs at data-directed
    positions and the aggregates/grouping must then agree on every
    NULL rule — COUNT(expr) skips, MIN/MAX skip, COALESCE fallback,
    CASE propagation, and NULL group keys grouping together."""
    table = rng.choice([t for t in sorted(TABLE_COLS)
                        if TABLE_COLS[t]["strs"]])
    cols = TABLE_COLS[table]
    pk = cols["ints"][0]
    c = rng.choice(cols["strs"])
    i = rng.choice(cols["ints"])
    sv = _sample_values(con, table, c, rng, 1)
    iv = _sample_values(con, table, i, rng, 1)
    s_lit = _lit("str", sv[0]) if sv else "'x'"
    i_lit = _lit("int", iv[0]) if iv else "0"
    pred = _gen_predicate(con, table, cols, rng)
    flavor = rng.randrange(3)
    if flavor == 0:
        # NULL group key: all NULLIF hits collapse into one group
        g = f"COALESCE(NULLIF({c}, {s_lit}), concat('<hit:', {c}, '>'))"
        return (
            f"SELECT {g} AS grp, COUNT(*) AS n_rows, "
            f"COUNT(NULLIF({i}, {i_lit})) AS n_nonnull, "
            f"MIN({pk}) AS min_k"
            f" FROM {table} WHERE ({pred}) GROUP BY {g}"
        )
    if flavor == 1:
        # aggregate NULL-skip rules over injected NULLs
        g = rng.choice(cols["groups"])
        return (
            f"SELECT {g} AS grp, COUNT(*) AS n_rows, "
            f"COUNT(NULLIF({c}, {s_lit})) AS n_s, "
            f"MIN(NULLIF({i}, {i_lit})) AS min_i, "
            f"MAX(NULLIF({i}, {i_lit})) AS max_i, "
            f"COUNT(DISTINCT NULLIF({c}, {s_lit})) AS n_dist"
            f" FROM {table} WHERE ({pred}) GROUP BY {g}"
        )
    # CASE propagation: a NULL-yielding branch inside a SUM flag
    g = rng.choice(cols["groups"])
    return (
        f"SELECT {g} AS grp, COUNT(*) AS n_rows, "
        f"CAST(SUM(CASE WHEN {c} = {s_lit} THEN NULL "
        f"WHEN {i} > {i_lit} THEN 2 ELSE 1 END) AS BIGINT) AS s_case, "
        f"COUNT(CASE WHEN {c} <> {s_lit} THEN 1 END) AS n_case"
        f" FROM {table} WHERE ({pred}) GROUP BY {g}"
    )


def _gen_groupsets(con, rng: random.Random) -> str:
    """GROUPING SETS / ROLLUP / CUBE with GROUPING() indicator columns
    (probed aligned 2026-08-15 including the data-NULL vs rollup-NULL
    disambiguation). The indicators ride along in the output so a
    divergence in WHICH set a row belongs to can't hide behind value
    coincidence."""
    table = rng.choice([t for t in sorted(TABLE_COLS)
                        if len(TABLE_COLS[t]["groups"]) >= 2])
    cols = TABLE_COLS[table]
    g1, g2 = rng.sample(cols["groups"], k=2)
    pk = cols["ints"][0]
    variant = rng.choice([
        f"ROLLUP({g1}, {g2})",
        f"CUBE({g1}, {g2})",
        f"GROUPING SETS (({g1}, {g2}), ({g1}), ())",
        f"GROUPING SETS (({g1}), ({g2}))",
    ])
    pred = _gen_predicate(con, table, cols, rng)
    aggs = [f"COUNT(*) AS n_rows", f"MIN({pk}) AS min_k"]
    if cols["floats"] and rng.random() < 0.6:
        c = rng.choice(cols["floats"])
        aggs.append(
            f"CAST(SUM(CAST(floor({c} * 100 + 0.5) AS BIGINT)) AS BIGINT)"
            f" AS sum_cents"
        )
    # HAVING COUNT(*) > 0 closes the ONE known grouping-set seam
    # (fuzzer's first real catch, seed 25995, pinned by
    # test_empty_input_grand_total_grouping_set_cross_engine_seam):
    # over an EMPTY input DuckDB emits the grand-total () row
    # (COUNT=0) per the standard, Spark emits nothing. The HAVING
    # drops that row symmetrically and no-ops on every non-empty
    # grouping-set row (each aggregates >= 1 input row).
    return (
        f"SELECT {g1}, {g2}, CAST(GROUPING({g1}) AS INT) AS gi1, "
        f"CAST(GROUPING({g2}) AS INT) AS gi2, " + ", ".join(aggs)
        + f" FROM {table} WHERE ({pred}) GROUP BY {variant}"
        + " HAVING COUNT(*) > 0"
    )


def _gen_joinwindow(con, rng: random.Random) -> str:
    """Compose shape: rank-filter / running-sum window OVER a PK-FK
    join — per-dim-group top-k and running totals of joined rows. The
    orders->customer edge only (the window needs a single-column
    unique order key; lineitem's PK is composite). Total order via
    (cents, o_orderkey) or (o_orderkey) alone, so both engines must
    agree row-for-row."""
    fc, dc = TABLE_COLS["orders"], TABLE_COLS["customer"]
    g = rng.choice(["c_mktsegment", "c_nationkey"])
    cents = "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"
    fact_pred = _gen_predicate(con, "orders", fc, rng)
    dim_pred = _gen_predicate(con, "customer", dc, rng)
    base = (f"FROM orders JOIN customer ON o_custkey = c_custkey"
            f" WHERE ({fact_pred}) AND ({dim_pred})")
    if rng.random() < 0.5:
        k = rng.randint(1, 5)
        direction = rng.choice(["ASC", "DESC"])
        return (
            f"SELECT grp, o_orderkey, rn FROM ("
            f"SELECT {g} AS grp, o_orderkey, ROW_NUMBER() OVER "
            f"(PARTITION BY {g} ORDER BY {cents} {direction}, o_orderkey)"
            f" AS rn {base}) t WHERE rn <= {k}"
        )
    return (
        f"SELECT {g} AS grp, o_orderkey, CAST(SUM({cents}) OVER "
        f"(PARTITION BY {g} ORDER BY o_orderkey ROWS BETWEEN UNBOUNDED "
        f"PRECEDING AND CURRENT ROW) AS BIGINT) AS run_cents {base}"
    )


def _near_empty_pred(con, table: str, cols: dict, rng: random.Random) -> str:
    """Predicate engineered to select 0, 1, or a handful of rows — the
    regime the r11 catch (seed 25995: grand-total grouping-set row over
    EMPTY input) says is under-explored.  Flavors: provably-empty
    (1=0), PK-singleton (exactly one row), and a tiny PK range."""
    pk = cols["ints"][0]
    r = rng.random()
    if r < 0.3:
        return "1=0"
    vals = _sample_values(con, table, pk, rng, 1)
    if not vals:
        return "1=0"
    if r < 0.7:
        return f"{pk} = {vals[0]}"
    return f"{pk} >= {vals[0]} AND {pk} <= {vals[0]} + {rng.randint(0, 3)}"


def _gen_emptyset(con, rng: random.Random) -> str:
    """HAVING over EMPTY / near-empty grouped inputs COMPOSED with set
    ops (r11 verdict #4a).  Each side of the set op is a grouped (or
    global, or ROLLUP+guard) aggregate whose input is engineered to
    0/1/few rows; the HAVING then filters groups at the emptiness
    boundary.  Covers: global-agg-over-empty emits exactly one row on
    both engines and HAVING drops it symmetrically; plain GROUP BY
    over empty emits none; ROLLUP stays sanctioned via the house-rule
    HAVING COUNT(*) > 0 (the r11 catch's closure) and is composed here
    so the closure itself is fuzzed under set ops."""
    table = rng.choice([t for t in sorted(TABLE_COLS)
                        if len(TABLE_COLS[t]["groups"]) >= 2])
    cols = TABLE_COLS[table]
    g = rng.choice(cols["groups"])
    pk = cols["ints"][0]
    op = rng.choice(["UNION", "UNION ALL", "INTERSECT", "EXCEPT"])

    def side() -> str:
        pred = (_near_empty_pred(con, table, cols, rng)
                if rng.random() < 0.7
                else _gen_predicate(con, table, cols, rng))
        flavor = rng.randrange(3)
        having = rng.choice([
            "COUNT(*) > 0",
            f"COUNT(*) >= {rng.randint(1, 3)}",
            f"MIN({pk}) IS NOT NULL",
        ])
        if flavor == 0:
            # global aggregate: one row even over empty input; HAVING
            # over that single all-NULL/0 group is the boundary
            return (f"SELECT 'all' AS grp, COUNT(*) AS n_rows, "
                    f"MIN({pk}) AS min_k FROM {table} WHERE ({pred})"
                    f" HAVING {having}")
        if flavor == 1:
            return (f"SELECT CAST({g} AS STRING) AS grp, COUNT(*) AS "
                    f"n_rows, MIN({pk}) AS min_k FROM {table}"
                    f" WHERE ({pred}) GROUP BY {g} HAVING {having}")
        # ROLLUP under the sanctioned guard, composed with the set op
        return (f"SELECT COALESCE(CAST({g} AS STRING), '<total>') AS "
                f"grp, COUNT(*) AS n_rows, MIN({pk}) AS min_k"
                f" FROM {table} WHERE ({pred}) GROUP BY ROLLUP({g})"
                f" HAVING COUNT(*) > 0")

    return f"{side()} {op} {side()}"


def _gen_outeragg(con, rng: random.Random) -> str:
    """Outer-join + aggregate where the dim side is FULLY (or nearly)
    null-extended (r11 verdict #4b): the ON-clause dim predicate is
    engineered toward zero matches, so every surviving row carries
    NULL dim columns and the aggregates exercise the all-NULL rules —
    COUNT(col)=0, MIN/MAX→NULL, SUM(CASE ...)=NULL vs 0, and grouping
    BY the DIM column collapses everything into the NULL group."""
    fact, dim, fk, pk = rng.choice(_JOINS)
    fc, dc = TABLE_COLS[fact], TABLE_COLS[dim]
    dim_pred = (_near_empty_pred(con, dim, dc, rng)
                if rng.random() < 0.75
                else _gen_predicate(con, dim, dc, rng))
    fact_pred = (_near_empty_pred(con, fact, fc, rng)
                 if rng.random() < 0.3
                 else _gen_predicate(con, fact, fc, rng))
    ds = rng.choice(dc["strs"]) if dc["strs"] else None
    aggs = [
        "COUNT(*) AS n_rows",
        f"COUNT({dim}.{pk}) AS n_matched",
        f"MIN({dim}.{pk}) AS min_dp",
        f"MAX({dim}.{pk}) AS max_dp",
        f"CAST(SUM(CASE WHEN {dim}.{pk} IS NULL THEN 1 ELSE 0 END) "
        f"AS BIGINT) AS n_nullext",
    ]
    if ds:
        aggs.append(f"MIN({dim}.{ds}) AS min_ds")
        aggs.append(f"COUNT(DISTINCT {dim}.{ds}) AS n_dist_ds")
    on = f"{fact}.{fk} = {dim}.{pk} AND ({dim_pred})"
    if rng.random() < 0.5 and ds:
        # group by the DIM string: all null-extended rows form the
        # NULL group, and both engines must agree it groups as ONE
        return (f"SELECT {dim}.{ds} AS grp, " + ", ".join(aggs)
                + f" FROM {fact} LEFT JOIN {dim} ON {on}"
                + f" WHERE ({fact_pred}) GROUP BY {dim}.{ds}")
    g = rng.choice(fc["groups"])
    return (f"SELECT {fact}.{g} AS grp, " + ", ".join(aggs)
            + f" FROM {fact} LEFT JOIN {dim} ON {on}"
            + f" WHERE ({fact_pred}) GROUP BY {fact}.{g}")


def _gen_winframe(con, rng: random.Random) -> str:
    """Window FRAMES over single-row and empty partitions (r11 verdict
    #4c): PARTITION BY the unique PK makes EVERY partition a
    singleton (each row is simultaneously a frame head, tail, and
    both edges for lead/lag defaults), and a near-empty WHERE drives
    the whole input to 0/1 rows.  Flavors: bounded ROWS frames
    (k PRECEDING .. CURRENT / CURRENT .. k FOLLOWING / k .. k),
    first/last_value over those frames, lead+lag defaults at
    partition edges, and a RANGE frame over integer cents.  Order is
    always total (PK tiebreak) so both engines must agree
    row-for-row; windowed SUM stays cents-BIGINT cast outside (the
    pinned HUGEINT seam)."""
    table = rng.choice(["orders", "part", "customer", "supplier"])
    cols = TABLE_COLS[table]
    pk = cols["ints"][0]
    fcol = cols["floats"][0]
    cents = f"CAST(floor({fcol} * 100 + 0.5) AS BIGINT)"
    part = pk if rng.random() < 0.5 else rng.choice(cols["groups"])
    pred = (_near_empty_pred(con, table, cols, rng)
            if rng.random() < 0.5
            else _gen_predicate(con, table, cols, rng))
    lo, hi = rng.randint(0, 3), rng.randint(0, 3)
    frame = rng.choice([
        f"ROWS BETWEEN {lo} PRECEDING AND CURRENT ROW",
        f"ROWS BETWEEN CURRENT ROW AND {hi} FOLLOWING",
        f"ROWS BETWEEN {lo} PRECEDING AND {hi} FOLLOWING",
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING",
    ])
    over = f"(PARTITION BY {part} ORDER BY {pk} {frame})"
    flavor = rng.randrange(3)
    if flavor == 0:
        return (
            f"SELECT {pk}, CAST(SUM({cents}) OVER {over} AS BIGINT) AS "
            f"w_sum, COUNT(*) OVER {over} AS w_n, "
            f"MIN({pk}) OVER {over} AS w_min"
            f" FROM {table} WHERE ({pred})"
        )
    if flavor == 1:
        # frame head/tail: NULL when the frame is empty (e.g. the
        # UNBOUNDED..1 PRECEDING frame on a partition's first row)
        return (
            f"SELECT {pk}, first_value({pk}) OVER {over} AS w_first, "
            f"last_value({pk}) OVER {over} AS w_last"
            f" FROM {table} WHERE ({pred})"
        )
    if rng.random() < 0.5:
        # lead/lag with explicit defaults: every singleton-partition
        # row takes the default on BOTH sides
        d = rng.randint(-5, 5)
        return (
            f"SELECT {pk}, LAG({cents}, 1, {d}) OVER (PARTITION BY "
            f"{part} ORDER BY {pk}) AS w_lag, LEAD({cents}, 1, {d}) "
            f"OVER (PARTITION BY {part} ORDER BY {pk}) AS w_lead"
            f" FROM {table} WHERE ({pred})"
        )
    # RANGE over integer cents: value-based frame edges; ties in the
    # order key are impossible (cents need not be unique — RANGE
    # includes ALL peers, which both engines must agree on)
    r = rng.randint(0, 500)
    return (
        f"SELECT {pk}, CAST(SUM({cents}) OVER (PARTITION BY {part} "
        f"ORDER BY {cents} RANGE BETWEEN {r} PRECEDING AND CURRENT ROW)"
        f" AS BIGINT) AS w_rsum"
        f" FROM {table} WHERE ({pred})"
    )


def _gen_nullframe(con, rng: random.Random) -> str:
    """NULLIF-injected values INSIDE window frames (r12 probe family):
    frame aggregates must skip injected NULLs (SUM/MIN/MAX skip,
    COUNT(expr) skips while COUNT(*) doesn't), rankings over a
    NULLABLE key carry an EXPLICIT NULLS FIRST/LAST (implicit ASC is
    the r12-pinned seam — Spark NULLS FIRST vs DuckDB NULLS LAST,
    test_implicit_asc_nulls_ordering_cross_engine_seam — so shared
    SQL always spells it), and lag/lead distinguish null-from-data
    from the explicit default."""
    table = rng.choice(["orders", "part", "customer", "supplier"])
    cols = TABLE_COLS[table]
    pk = cols["ints"][0]
    g = rng.choice(cols["groups"])
    fcol = cols["floats"][0]
    cents = f"CAST(floor({fcol} * 100 + 0.5) AS BIGINT)"
    import math

    fv = _sample_values(con, table, fcol, rng, 1)
    # math.floor, NOT int(): int() truncates toward zero, so a
    # negative sampled acctbal would make the literal miss the SQL
    # side's floor() by one and the NULL injection would never fire
    # (r12 review)
    cents_lit = math.floor(fv[0] * 100 + 0.5) if fv else 0
    nv = f"NULLIF({cents}, {cents_lit})"
    pred = _gen_predicate(con, table, cols, rng)
    flavor = rng.randrange(4)
    if flavor == 0:
        lo, hi = rng.randint(0, 3), rng.randint(0, 3)
        over = (f"(PARTITION BY {g} ORDER BY {pk} ROWS BETWEEN {lo} "
                f"PRECEDING AND {hi} FOLLOWING)")
        return (
            f"SELECT {pk}, CAST(SUM({nv}) OVER {over} AS BIGINT) AS w_sum, "
            f"COUNT({nv}) OVER {over} AS w_n, "
            f"COUNT(*) OVER {over} AS w_all, "
            f"MIN({nv}) OVER {over} AS w_min"
            f" FROM {table} WHERE ({pred})"
        )
    if flavor == 1:
        k = rng.randint(1, 5)
        direction = rng.choice(["ASC", "DESC"])
        nulls = rng.choice(["NULLS FIRST", "NULLS LAST"])
        i = rng.choice(cols["ints"][1:] or cols["ints"])
        ivs = _sample_values(con, table, i, rng, 2)
        ilit = ivs[0] if ivs else 0
        key = f"NULLIF({i}, {ilit})"
        if len(ivs) > 1 and rng.random() < 0.5:
            # multi-level: the outer NULLIF nulls a SECOND sampled
            # value, so the nullable rank key has two injection sites
            key = f"NULLIF({key}, {ivs[1]})"
        return (
            f"SELECT grp, {pk}, rn FROM ("
            f"SELECT {g} AS grp, {pk}, ROW_NUMBER() OVER "
            f"(PARTITION BY {g} ORDER BY {key} {direction} "
            f"{nulls}, {pk}) AS rn"
            f" FROM {table} WHERE ({pred})) t WHERE rn <= {k}"
        )
    if flavor == 2:
        # multi-level NULLIF inside the frame (r12 verdict #4): the
        # injection NESTS (two sampled cents values null out) and ALSO
        # hits the PARTITION key — NULL must form its own partition on
        # both engines; frame aggregates skip the doubly-injected
        # NULLs identically while COUNT(*) keeps counting them.
        fv2 = _sample_values(con, table, fcol, rng, 2)
        lit_a = math.floor(fv2[0] * 100 + 0.5) if fv2 else 0
        lit_b = math.floor(fv2[-1] * 100 + 0.5) if len(fv2) > 1 else 1
        nv2 = f"NULLIF(NULLIF({cents}, {lit_a}), {lit_b})"
        gkind = "str" if g in cols["strs"] else "int"
        gv = _sample_values(con, table, g, rng, 1)
        gpart = f"NULLIF({g}, {_lit(gkind, gv[0])})" if gv else g
        lo, hi = rng.randint(0, 3), rng.randint(0, 3)
        over2 = (f"(PARTITION BY {gpart} ORDER BY {pk} ROWS BETWEEN "
                 f"{lo} PRECEDING AND {hi} FOLLOWING)")
        return (
            f"SELECT {pk}, "
            f"CAST(SUM({nv2}) OVER {over2} AS BIGINT) AS w_sum, "
            f"COUNT({nv2}) OVER {over2} AS w_n, "
            f"COUNT(*) OVER {over2} AS w_all, "
            f"MAX({nv2}) OVER {over2} AS w_max"
            f" FROM {table} WHERE ({pred})"
        )
    d = rng.randint(-5, 5)
    return (
        f"SELECT {pk}, LAG({nv}, 1, {d}) OVER (PARTITION BY {g} "
        f"ORDER BY {pk}) AS w_lag, "
        f"LEAD({nv}, 1) OVER (PARTITION BY {g} ORDER BY {pk}) AS w_lead"
        f" FROM {table} WHERE ({pred})"
    )


def _gen_winsetop(con, rng: random.Random) -> str:
    """Set ops over WINDOW outputs (r12 family): each side is a
    total-ordered rank-filter or running-sum projection, composed
    with UNION / UNION ALL / INTERSECT / EXCEPT — the dedup happens
    over rows whose values came out of window evaluation, so a
    divergence in frame or rank semantics surfaces as set-op rows,
    not just reordered output."""
    table = rng.choice(["orders", "part", "customer", "supplier"])
    cols = TABLE_COLS[table]
    pk = cols["ints"][0]
    fcol = cols["floats"][0]
    cents = f"CAST(floor({fcol} * 100 + 0.5) AS BIGINT)"
    op = rng.choice(["UNION", "UNION ALL", "INTERSECT", "EXCEPT"])

    def side() -> str:
        g = rng.choice(cols["groups"])
        pred = _gen_predicate(con, table, cols, rng)
        if rng.random() < 0.6:
            k = rng.randint(1, 5)
            direction = rng.choice(["ASC", "DESC"])
            return (
                f"SELECT {pk} AS k, rn AS w FROM ("
                f"SELECT {pk}, ROW_NUMBER() OVER (PARTITION BY {g} "
                f"ORDER BY {cents} {direction}, {pk}) AS rn"
                f" FROM {table} WHERE ({pred})) t WHERE rn <= {k}"
            )
        return (
            f"SELECT {pk} AS k, CAST(SUM({cents}) OVER (PARTITION BY {g} "
            f"ORDER BY {pk} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT "
            f"ROW) AS BIGINT) AS w FROM {table} WHERE ({pred})"
        )

    return f"{side()} {op} {side()}"


def _gen_winsetgroup(con, rng: random.Random) -> str:
    """GROUPING SETS / ROLLUP over WINDOW outputs (r13 family): the
    grouped input's values came out of rank/running-sum evaluation, so
    a frame or rank divergence surfaces as different grouping-set
    rows, and the r12-pinned empty-grand-total seam gets exercised
    where the grouped input is itself a window-filtered derivation
    (sanctioned HAVING COUNT(*) > 0 guard on both engines)."""
    table = rng.choice(["orders", "part", "customer", "supplier"])
    cols = TABLE_COLS[table]
    pk = cols["ints"][0]
    g = rng.choice(cols["groups"])
    fcol = cols["floats"][0]
    cents = f"CAST(floor({fcol} * 100 + 0.5) AS BIGINT)"
    pred = (_near_empty_pred(con, table, cols, rng)
            if rng.random() < 0.4
            else _gen_predicate(con, table, cols, rng))
    k = rng.randint(1, 4)
    inner = (
        f"SELECT {g} AS grp, {pk} AS pk, rn, "
        f"CAST(run_sum AS BIGINT) AS run_sum FROM ("
        f"SELECT {g}, {pk}, ROW_NUMBER() OVER (PARTITION BY {g} "
        f"ORDER BY {cents} DESC, {pk}) AS rn, "
        f"SUM({cents}) OVER (PARTITION BY {g} ORDER BY {pk} "
        f"ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_sum"
        f" FROM {table} WHERE ({pred})) t WHERE rn <= {k}"
    )
    sets = rng.choice([
        "ROLLUP(grp, rn)", "CUBE(grp, rn)",
        "GROUPING SETS ((grp), (rn), ())",
    ])
    return (
        f"SELECT grp, rn, COUNT(*) AS n_rows, "
        f"CAST(SUM(run_sum) AS BIGINT) AS sum_rs, "
        f"CAST(GROUPING(grp) AS INT) AS g_grp, "
        f"CAST(GROUPING(rn) AS INT) AS g_rn "
        f"FROM ({inner}) w GROUP BY {sets} HAVING COUNT(*) > 0"
    )


def _gen_nullkeyjoin(con, rng: random.Random) -> str:
    """Multi-level NULLIF on JOIN KEYS (r13 family): `=` must drop
    NULL key pairs identically on both engines (probed aligned), so a
    NULLIF-injected key removes the sampled values' matches from an
    inner join and NULL-EXTENDS them under a LEFT join — aggregates
    over the null-extended side then exercise the outer-agg seam with
    the nullability coming from the JOIN KEY, not the payload."""
    dim, fact, dk, fk = rng.choice([
        ("customer", "orders", "c_custkey", "o_custkey"),
        ("part", "lineitem", "p_partkey", "l_partkey"),
        ("supplier", "lineitem", "s_suppkey", "l_suppkey"),
        ("orders", "lineitem", "o_orderkey", "l_orderkey"),
    ])
    fc = TABLE_COLS[fact]
    cents = f"CAST(floor({fc['floats'][0]} * 100 + 0.5) AS BIGINT)"
    vals = _sample_values(con, fact, fk, rng, 2)
    if not vals:
        return _gen_join(con, rng)
    k1 = vals[0]
    key = f"NULLIF({fact}.{fk}, {k1})"
    if len(vals) > 1 and rng.random() < 0.5:
        key = f"NULLIF({key}, {vals[1]})"  # multi-level injection
    side = "JOIN" if rng.random() < 0.5 else "LEFT JOIN"
    pred = _gen_predicate(con, fact, fc, rng)
    g = rng.choice(fc["groups"])
    return (
        f"SELECT {fact}.{g} AS grp, COUNT(*) AS n_rows, "
        f"COUNT({dim}.{dk}) AS n_matched, "
        f"CAST(SUM(CASE WHEN {dim}.{dk} IS NULL THEN 1 ELSE 0 END) "
        f"AS BIGINT) AS n_dangling, "
        f"CAST(SUM({cents}) AS BIGINT) AS sum_cents "
        f"FROM {fact} {side} {dim} ON {key} = {dim}.{dk} "
        f"WHERE ({pred}) GROUP BY {fact}.{g}"
    )


def _gen_ntilefuzz(con, rng: random.Random) -> str:
    """NTILE shapes (r13 family, seeded by the ntile_deciles
    registration): sampled bucket counts over sampled group columns
    under the house TOTAL order, aggregated per bucket — the
    remainder-to-leading-buckets rule and tie placement must agree
    row-for-row or the per-bucket sums diverge.  Half the time the
    input is near-empty (buckets >> rows)."""
    table = rng.choice(["orders", "part", "customer", "supplier"])
    cols = TABLE_COLS[table]
    pk = cols["ints"][0]
    g = rng.choice(cols["groups"])
    fcol = cols["floats"][0]
    cents = f"CAST(floor({fcol} * 100 + 0.5) AS BIGINT)"
    n = rng.choice([2, 3, 7, 10, 100])
    pred = (_near_empty_pred(con, table, cols, rng)
            if rng.random() < 0.5
            else _gen_predicate(con, table, cols, rng))
    direction = rng.choice(["ASC", "DESC"])
    return (
        f"SELECT grp, b, COUNT(*) AS n_rows, "
        f"CAST(SUM(c) AS BIGINT) AS sum_c, MIN(c) AS lo, MAX(c) AS hi "
        f"FROM (SELECT {g} AS grp, {cents} AS c, "
        f"NTILE({n}) OVER (PARTITION BY {g} ORDER BY {cents} "
        f"{direction}, {pk}) AS b"
        f" FROM {table} WHERE ({pred})) t GROUP BY grp, b"
    )


def _gen_rangenull(con, rng: random.Random) -> str:
    """RANGE frames over NULLIF'd ORDER BY keys as a FULL family (r13
    verdict #5 / NOTES: probed aligned on micro-cases only until now).
    The order key is a nullable cents expression (single or
    multi-level NULLIF), always with EXPLICIT NULLS FIRST/LAST (the
    pinned implicit-ASC seam, machine-enforced by oracle_lint for
    registry SQL — the fuzzer spells it the same way); NULL rows form
    their own PEER GROUP, so every value-offset frame over them must
    resolve to exactly the NULL peers on both engines, in every
    direction/bound combination.  Windowed SUM casts BIGINT outside
    (the HUGEINT seam)."""
    import math

    table = rng.choice(["orders", "part", "customer", "supplier"])
    cols = TABLE_COLS[table]
    pk = cols["ints"][0]
    fcol = cols["floats"][0]
    cents = f"CAST(floor({fcol} * 100 + 0.5) AS BIGINT)"
    fv = _sample_values(con, table, fcol, rng, 2)
    lit_a = math.floor(fv[0] * 100 + 0.5) if fv else 0
    key = f"NULLIF({cents}, {lit_a})"
    if len(fv) > 1 and rng.random() < 0.5:
        lit_b = math.floor(fv[1] * 100 + 0.5)
        key = f"NULLIF({key}, {lit_b})"  # two injection sites
    direction = rng.choice(["ASC", "DESC"])
    nulls = rng.choice(["NULLS FIRST", "NULLS LAST"])
    part = rng.choice(cols["groups"]) if rng.random() < 0.7 else None
    partby = f"PARTITION BY {part} " if part else ""
    pred = (_near_empty_pred(con, table, cols, rng)
            if rng.random() < 0.3
            else _gen_predicate(con, table, cols, rng))
    r_lo, r_hi = rng.randint(0, 500), rng.randint(0, 500)
    frame = rng.choice([
        f"RANGE BETWEEN {r_lo} PRECEDING AND CURRENT ROW",
        f"RANGE BETWEEN CURRENT ROW AND {r_hi} FOLLOWING",
        f"RANGE BETWEEN {r_lo} PRECEDING AND {r_hi} FOLLOWING",
        # no offsets: pure peer-group frames (the NULL group is ALL
        # NULL rows at once on both engines)
        "RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW",
    ])
    over = f"({partby}ORDER BY {key} {direction} {nulls} {frame})"
    return (
        f"SELECT {pk}, "
        f"CAST(SUM({cents}) OVER {over} AS BIGINT) AS w_sum, "
        f"COUNT(*) OVER {over} AS w_all, "
        f"COUNT({key}) OVER {over} AS w_key, "
        f"MIN({pk}) OVER {over} AS w_min"
        f" FROM {table} WHERE ({pred})"
    )


def _gen_nsafejoin(con, rng: random.Random) -> str:
    """Null-safe equality JOIN keys (r13 verdict #5 / NOTES: `<=>`
    vs DuckDB — the shared spelling both engines parse is IS NOT
    DISTINCT FROM, probed identical this round): multi-level NULLIF'd
    fact keys MATCH the dim's NULL row instead of dropping (the
    complement of the nullkeyjoin family, which pins `=` semantics).
    The dim side is PRE-AGGREGATED to one row per key — q_null_safe_
    join's discipline — so NULL matches stay 1:N and the row count is
    engine-comparable, never a NULL x NULL product."""
    fact, dim, fk, dk = rng.choice(_JOINS)
    fc, dc = TABLE_COLS[fact], TABLE_COLS[dim]
    fcol = fc["floats"][0]
    cents = f"CAST(floor({fcol} * 100 + 0.5) AS BIGINT)"
    vals = _sample_values(con, fact, fk, rng, 2)
    m = rng.choice([0, 0, 7, 13, 50])  # 0: raw key; else modulo bucket
    lkey = f"({fk} % {m})" if m else fk
    rkey = f"({dk} % {m})" if m else dk
    if vals:
        lit = int(vals[0]) % m if m else int(vals[0])
        lkey = f"NULLIF({lkey}, {lit})"
        rkey = f"NULLIF({rkey}, {lit})"
        if len(vals) > 1 and rng.random() < 0.5:
            lit2 = int(vals[1]) % m if m else int(vals[1])
            lkey = f"NULLIF({lkey}, {lit2})"  # asymmetric second site:
            # left-only injection leaves right non-null values the
            # left key can no longer reach (and vice versa for NULL)
    side = "JOIN" if rng.random() < 0.5 else "LEFT JOIN"
    pred = _gen_predicate(con, fact, fc, rng)
    g = rng.choice(fc["groups"])
    return (
        f"SELECT f.{g} AS grp, COUNT(*) AS n_rows, "
        f"COUNT(d.n_dim) AS n_matched, "
        f"CAST(SUM(f.c) AS BIGINT) AS sum_cents, "
        f"MIN(d.n_dim) AS min_dim_n "
        f"FROM (SELECT {g}, {cents} AS c, {lkey} AS lk FROM {fact} "
        f"WHERE ({pred})) f "
        f"{side} (SELECT {rkey} AS rk, COUNT(*) AS n_dim FROM {dim} "
        f"GROUP BY {rkey}) d "
        f"ON f.lk IS NOT DISTINCT FROM d.rk "
        f"GROUP BY f.{g}"
    )


def _gen_medianalg(con, rng: random.Random) -> str:
    """MAD/median algebra shapes (r13 NOTES: under-explored regime):
    grouped median / percentile_cont over integer cents with the
    multiply-through disciplines the registry relies on — median(c*2)
    of even BIGINTs is an integer on both engines (shared (n-1)p
    interpolation), percentile_cont at BINARY-EXACT fractions (0.25 /
    0.5 / 0.75) over c*4 interpolates to exact doubles, and NULLIF'd
    inputs must be skipped identically.  Shapes include a HAVING over
    the median itself (empty/near-empty groups drop the same way) —
    the fuzz twin of mad_outliers/histogram_median's algebra."""
    table = rng.choice(["orders", "part", "customer", "supplier"])
    cols = TABLE_COLS[table]
    g = rng.choice(cols["groups"])
    fcol = cols["floats"][0]
    cents = f"CAST(floor({fcol} * 100 + 0.5) AS BIGINT)"
    pred = (_near_empty_pred(con, table, cols, rng)
            if rng.random() < 0.3
            else _gen_predicate(con, table, cols, rng))
    src = cents
    if rng.random() < 0.4:
        import math

        fv = _sample_values(con, table, fcol, rng, 1)
        lit = math.floor(fv[0] * 100 + 0.5) if fv else 0
        src = f"NULLIF({cents}, {lit})"  # median must skip NULLs
    flavor = rng.randrange(3)
    if flavor == 0:
        q = (
            f"SELECT {g} AS grp, COUNT(*) AS n, "
            f"CAST(median({src} * 2) AS BIGINT) AS med2, "
            f"CAST(SUM({src}) AS BIGINT) AS sum_c "
            f"FROM {table} WHERE ({pred}) GROUP BY {g}"
        )
        if rng.random() < 0.5:
            q += " HAVING CAST(median(" + src + " * 2) AS BIGINT) > 0"
        return q
    if flavor == 1:
        p = rng.choice(["0.25", "0.5", "0.75"])  # binary-exact only
        return (
            f"SELECT {g} AS grp, COUNT({src}) AS n_vals, "
            f"CAST(percentile_cont({p}) WITHIN GROUP "
            f"(ORDER BY {src} * 4) AS BIGINT) AS p4 "
            f"FROM {table} WHERE ({pred}) GROUP BY {g}"
        )
    # MAD shape: per-group deviation from the group median via a
    # self-joined scalar (the mad_outliers algebra, fuzz-sized).
    # Deviations 2c - med2 are integers of ANY parity, so their bare
    # median could interpolate to x.5 — where double->BIGINT CAST
    # truncates in Spark but rounds in DuckDB; multiply through (x2)
    # keeps the inner median over EVEN ints -> always integral (the
    # registry's mad4 discipline).
    return (
        f"SELECT t.{g} AS grp, COUNT(*) AS n, "
        f"CAST(median(ABS(2 * t.c - m.med2) * 2) AS BIGINT) AS mad4 "
        f"FROM (SELECT {g}, {cents} AS c FROM {table} WHERE ({pred})) t "
        f"JOIN (SELECT {g}, CAST(median({cents} * 2) AS BIGINT) AS med2 "
        f"FROM {table} WHERE ({pred}) GROUP BY {g}) m "
        f"ON t.{g} = m.{g} "
        f"GROUP BY t.{g}"
    )


def _gen_histalg(con, rng: random.Random) -> str:
    """Histogram-bucket quantile algebra (r15 — the fuzz twin of
    histogram_median / histogram_percentile / weighted_median):
    grouped FLOOR-division bucketing via the sanctioned
    positive-mod-then-divide spelling (the divide is `/` over an
    exact multiple CAST to BIGINT — integral doubles cast identically
    on both engines; bare DIV is Spark-only, `//` DuckDB-only), a
    cumulative window over bucket order, and an integer
    cross-multiplied threshold k*run >= m*tot picking the quantile
    bucket.  Flavors: random width (incl. non-round), random k/m
    fraction (any rational — the bucket rule never interpolates),
    a SHIFT pushing cents negative (the trunc-vs-floor regime the
    r14 ADVICE fix closed), WEIGHTED histograms over a modular
    weight that includes ZEROS, and a NULLIF'd-cents flavor (NULL
    forms its own bucket; bucket order spells NULLS FIRST per the
    implicit-ASC house rule)."""
    import math

    table = rng.choice(["orders", "part", "customer", "supplier"])
    cols = TABLE_COLS[table]
    g = rng.choice(cols["groups"])
    fcol = cols["floats"][0]
    pred = _gen_predicate(con, table, cols, rng)
    W = rng.choice([30000, 50000, 100000, 177777, 200000])
    k, m = rng.choice([(2, 1), (4, 1), (4, 3), (8, 3), (8, 5), (5, 2),
                       (10, 7), (3, 2)])
    cents = f"CAST(floor({fcol} * 100 + 0.5) AS BIGINT)"
    shift = 0
    if rng.random() < 0.4:
        fv = _sample_values(con, table, fcol, rng, 1)
        shift = math.floor(fv[0] * 100 + 0.5) if fv else 0
    c_expr = f"{cents} - {shift}" if shift else cents
    nulls = ""
    if rng.random() < 0.25:
        fv = _sample_values(con, table, fcol, rng, 1)
        lit = math.floor(fv[0] * 100 + 0.5) - shift if fv else 0
        c_expr = f"NULLIF({c_expr}, {lit})"
        nulls = " NULLS FIRST"  # NULL bucket sorts first on both
    bucket = f"CAST((c - (((c % {W}) + {W}) % {W})) / {W} AS BIGINT)"
    weighted = rng.random() < 0.4
    icol = rng.choice(cols["ints"])
    w_src = f", (({icol} % 7) + 7) % 7 AS w" if weighted else ""
    msum = f"CAST(SUM(w) AS BIGINT)" if weighted else "COUNT(*)"
    q = (
        f"WITH c0 AS (SELECT {g} AS grp, {c_expr} AS c{w_src} "
        f"FROM {table} WHERE ({pred})), "
        f"h AS (SELECT grp, {bucket} AS b, {msum} AS cnt "
        f"FROM c0 GROUP BY 1, 2), "
        f"cum AS (SELECT grp, b, "
        f"CAST(SUM(cnt) OVER (PARTITION BY grp ORDER BY b ASC{nulls} "
        f"ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)"
        f" AS run, "
        f"CAST(SUM(cnt) OVER (PARTITION BY grp) AS BIGINT) AS tot "
        f"FROM h) "
        f"SELECT grp, MIN(tot) AS total_mass, "
        f"MIN(CASE WHEN {k} * run >= {m} * tot THEN b END) AS qb, "
        f"MIN(CASE WHEN {k} * run >= {m} * tot THEN b END) * {W} "
        f"AS q_lo "
        f"FROM cum GROUP BY grp"
    )
    if rng.random() < 0.3:
        q += " HAVING MIN(tot) > 0"
    return q


def _gen_modefreq(con, rng: random.Random) -> str:
    """Mode / frequent-items algebra (r15 second wave — the fuzz twin
    of group_mode / heavy_hitters): grouped value-frequency counts,
    then either a RANK window over (cnt DESC [, val tiebreak]) picking
    the mode set (RANK keeps ties, so the selected multiset is
    deterministic even without a total order) or an integer
    cross-multiplied share threshold k*cnt >(=) m*tot (both strict and
    non-strict, landing exactly ON tie fractions), with optional ppm
    shares via the sanctioned positive-mod division spelling.  Value
    flavors: string columns, bounded modular ints (incl.
    negative-shifted), and NULLIF'd values either filtered out
    (IS NOT NULL) or kept as their own frequency class with explicit
    NULLS ordering on the tiebreak."""
    table = rng.choice(["orders", "part", "customer", "lineitem"])
    cols = TABLE_COLS[table]
    g = rng.choice(cols["groups"])
    pred = _gen_predicate(con, table, cols, rng)
    if rng.random() < 0.5 and cols["strs"]:
        vcol = rng.choice(cols["strs"])
        val = f"concat({vcol}, '_v')" if vcol == g else vcol
        null_lit = None
        if rng.random() < 0.35:
            sv = _sample_values(con, table, vcol, rng, 1)
            if sv:
                inner = _lit("str", sv[0])
                null_lit = (f"concat({inner}, '_v')"
                            if vcol == g else inner)
    else:
        icol = rng.choice(cols["ints"])
        k = rng.choice([3, 5, 7, 11])
        shift = rng.choice([0, 0, 2])
        val = f"((({icol} % {k}) + {k}) % {k}) - {shift}"
        null_lit = (str(rng.randrange(k) - shift)
                    if rng.random() < 0.35 else None)
    v_expr = f"NULLIF({val}, {null_lit})" if null_lit else val
    drop_nulls = null_lit is not None and rng.random() < 0.5
    c_where = " WHERE val IS NOT NULL" if drop_nulls else ""
    tiebreak = ""
    if rng.random() < 0.6:
        nulls = ("" if drop_nulls or not null_lit
                 else rng.choice([" NULLS FIRST", " NULLS LAST"]))
        tiebreak = f", val ASC{nulls}"
    sel_kind = rng.choice(["rank", "rank", "thresh", "gsets", "rollup2",
                           "setop2"])
    if sel_kind == "setop2":
        # r16 (the NOTES' under-explored modefreq composition): mode /
        # heavy-hitter sets from TWO tables composed under set ops —
        # the shared bounded-modular value domain makes the one
        # output column union-compatible; each side is rendered
        # deterministic before the compose (RANK under a full
        # tiebreak, or a strict integer share threshold).
        t2 = rng.choice(
            [t for t in ("orders", "part", "customer", "lineitem")
             if t != table]
        )
        c2 = TABLE_COLS[t2]
        k = rng.choice([3, 5, 7, 11])
        shift = rng.choice([0, 0, 2])
        pred2 = _gen_predicate(con, t2, c2, rng)
        op = rng.choice(["INTERSECT", "EXCEPT", "UNION ALL"])

        def _mode_side(tbl, icol, p):
            v = f"((({icol} % {k}) + {k}) % {k}) - {shift}"
            base = (f"SELECT val, COUNT(*) AS cnt FROM "
                    f"(SELECT {v} AS val FROM {tbl} WHERE ({p})) s "
                    f"GROUP BY val")
            if rng.random() < 0.3:
                k_, m_ = rng.choice([(5, 1), (4, 1), (3, 1), (7, 2)])
                return (
                    f"SELECT val FROM (SELECT val, cnt, "
                    f"CAST(SUM(cnt) OVER () AS BIGINT) AS tot "
                    f"FROM ({base}) c) r WHERE {k_} * cnt > {m_} * tot"
                )
            j = rng.choice([1, 2, 3])
            return (
                f"SELECT val FROM (SELECT val, "
                f"RANK() OVER (ORDER BY cnt DESC, val ASC) AS rk "
                f"FROM ({base}) c) r WHERE rk <= {j}"
            )

        s1 = _mode_side(table, rng.choice(cols["ints"]), pred)
        s2 = _mode_side(t2, rng.choice(c2["ints"]), pred2)
        return f"({s1}) {op} ({s2})"
    if sel_kind == "rollup2" and len(cols["groups"]) >= 2:
        # wave 4: TWO-LEVEL groups with partial rollup — rank within
        # (grp1, grp2), then ROLLUP(grp1, grp2) over the mode set
        # (the empty-group seam guarded by the house HAVING)
        g1, g2 = rng.sample(cols["groups"], 2)
        j = rng.choice([1, 2])
        return (
            f"WITH c0 AS (SELECT {g1} AS grp1, {g2} AS grp2, "
            f"{v_expr} AS val FROM {table} WHERE ({pred})), "
            f"c AS (SELECT grp1, grp2, val, COUNT(*) AS cnt "
            f"FROM c0{c_where} GROUP BY 1, 2, 3), "
            f"r AS (SELECT grp1, grp2, val, cnt, "
            f"RANK() OVER (PARTITION BY grp1, grp2 "
            f"ORDER BY cnt DESC{tiebreak}) AS rk "
            f"FROM c) "
            f"SELECT grp1, grp2, GROUPING(grp1) AS gg1, "
            f"GROUPING(grp2) AS gg2, "
            f"COUNT(*) AS n_modes, CAST(SUM(cnt) AS BIGINT) AS mass "
            f"FROM r WHERE rk <= {j} "
            f"GROUP BY ROLLUP(grp1, grp2) "
            f"HAVING COUNT(*) > 0"
        )
    if sel_kind == "rollup2":
        sel_kind = "rank"  # single-group tables fall back
    if sel_kind == "gsets":
        # wave 3: grouping sets over the rank output — the
        # ROLLUP-over-empty seam (DuckDB emits (), Spark doesn't)
        # guarded by the house HAVING COUNT(*) > 0 on both sides;
        # GROUPING() separates data-NULL vals from rollup NULLs
        j = rng.choice([1, 2])
        return (
            f"WITH c0 AS (SELECT {g} AS grp, {v_expr} AS val "
            f"FROM {table} WHERE ({pred})), "
            f"c AS (SELECT grp, val, COUNT(*) AS cnt FROM c0{c_where} "
            f"GROUP BY 1, 2), "
            f"r AS (SELECT grp, val, cnt, "
            f"RANK() OVER (PARTITION BY grp "
            f"ORDER BY cnt DESC{tiebreak}) AS rk "
            f"FROM c) "
            f"SELECT grp, val, GROUPING(grp) AS gg, GROUPING(val) AS gv, "
            f"COUNT(*) AS n_modes, CAST(SUM(cnt) AS BIGINT) AS mass "
            f"FROM r WHERE rk <= {j} "
            f"GROUP BY GROUPING SETS ((grp, val), (grp), ()) "
            f"HAVING COUNT(*) > 0"
        )
    if sel_kind == "rank":
        j = rng.choice([1, 1, 2])
        sel = f"rk <= {j}"
    else:
        k_, m_ = rng.choice([(5, 1), (4, 1), (3, 1), (8, 1),
                             (10, 3), (7, 2), (2, 1)])
        op = rng.choice([">", ">="])
        sel = f"{k_} * cnt {op} {m_} * tot"
    ppm = ""
    if rng.random() < 0.5:
        p = "1000000 * cnt"
        ppm = (f", CAST((({p}) - (((({p}) % tot) + tot) % tot)) / tot "
               f"AS BIGINT) AS share_ppm")
    return (
        f"WITH c0 AS (SELECT {g} AS grp, {v_expr} AS val "
        f"FROM {table} WHERE ({pred})), "
        f"c AS (SELECT grp, val, COUNT(*) AS cnt FROM c0{c_where} "
        f"GROUP BY 1, 2), "
        f"r AS (SELECT grp, val, cnt, "
        f"RANK() OVER (PARTITION BY grp "
        f"ORDER BY cnt DESC{tiebreak}) AS rk, "
        f"CAST(SUM(cnt) OVER (PARTITION BY grp) AS BIGINT) AS tot "
        f"FROM c) "
        f"SELECT grp, val, cnt, tot, rk{ppm} FROM r WHERE {sel}"
    )


# outer dim <- correlated fact: (dim, fact, dim_pk, fact_fk)
_LATERAL_PAIRS = [
    ("customer", "orders", "c_custkey", "o_custkey"),
    ("orders", "lineitem", "o_orderkey", "l_orderkey"),
    ("part", "lineitem", "p_partkey", "l_partkey"),
    ("supplier", "lineitem", "s_suppkey", "l_suppkey"),
]
# near-key of each fact — appended wherever LIMIT/running sums need an
# order.  NB (seed-87015 find): in THIS testdata (l_orderkey,
# l_linenumber) is NOT unique (duplicate linenumbers within an order),
# so running sums additionally append the SUMMAND as the last sort key
# — rows tied on the full order then contribute identical values, so
# the running-sum multiset is order-invariant; RANK flavors keep ties
# and the LIMIT flavor projects only columns functionally determined
# by its sort prefix, so both are deterministic as-is.
_FACT_UKEY = {
    "orders": ["o_orderkey"],
    "lineitem": ["l_orderkey", "l_linenumber"],
}


def _gen_latwin(con, rng: random.Random) -> str:
    """LATERAL over WINDOW outputs (r15 second wave — the NOTES'
    under-explored composition): a dim row correlates into a fact
    subquery whose body is a window computation, exercising
    Catalyst's decorrelation of Window nodes vs DuckDB's native
    lateral execution.  Flavors: RANK-filtered lateral rows (ties
    kept — deterministic without a total order), a scalar aggregate
    OVER a running-sum window (agg-of-window through the lateral
    seam), and ORDER BY window output + LIMIT under an explicit
    total order (unique key appended).  Optional NULLIF on the
    windowed measure spells explicit NULLS placement on the sort;
    windowed SUM(BIGINT) is CAST (the HUGEINT seam)."""
    dim, fact, pk, fk = rng.choice(_LATERAL_PAIRS)
    dc, fc = TABLE_COLS[dim], TABLE_COLS[fact]
    fcol = rng.choice(fc["floats"])
    cents = f"CAST(floor(f.{fcol} * 100 + 0.5) AS BIGINT)"
    nulls = ""
    if rng.random() < 0.3:
        sv = _sample_values(con, fact, fcol, rng, 1)
        if sv:
            import math as _math

            lit = _math.floor(sv[0] * 100 + 0.5)
            cents = f"NULLIF({cents}, {lit})"
            nulls = rng.choice([" NULLS FIRST", " NULLS LAST"])
    fact_pred = _gen_predicate(con, fact, fc, rng)
    # column references inside the lateral body must be qualified
    for c in fc["ints"] + fc["floats"] + fc["strs"] + fc["dates"]:
        fact_pred = re.sub(rf"(?<![\w.]){c}\b", f"f.{c}", fact_pred)
    dim_pred = _gen_predicate(con, dim, dc, rng)
    for c in dc["ints"] + dc["floats"] + dc["strs"] + dc["dates"]:
        dim_pred = re.sub(rf"(?<![\w.]){c}\b", f"d.{c}", dim_pred)
    ukey = ", ".join(f"f.{c} ASC" for c in _FACT_UKEY[fact])
    dkeys = f"d.{pk}, d.{rng.choice(dc['strs'])}"
    flavor = rng.choice(["rankfilter", "rankfilter", "aggwin", "limit",
                         "setop", "winover", "latjoin", "rangewin",
                         "leftlat", "nested2", "mixwin"])
    direction = rng.choice(["ASC", "DESC"])
    if flavor == "mixwin":
        # r16 (the NOTES' last under-explored lateral composition,
        # probed aligned first): window + LIMIT + set op all INSIDE
        # one lateral body.  Side A: the LIMIT flavor (total order =
        # rk, unique key; rank ties carry EQUAL m so the projected
        # (m, rk) multiset is LIMIT-deterministic); side B: a plain
        # rank filter under an independent direction.  UNION ALL
        # keeps multisets, INTERSECT/EXCEPT dedup identically.
        op = rng.choice(["INTERSECT", "EXCEPT", "UNION ALL"])
        j1, j2 = rng.choice([1, 2]), rng.choice([1, 2, 3])
        dir2 = rng.choice(["ASC", "DESC"])
        body_a = (
            f"SELECT m, rk FROM ("
            f"SELECT {cents} AS m, "
            f"RANK() OVER (ORDER BY {cents} {direction}{nulls}) AS rk "
            f"FROM {fact} f "
            f"WHERE f.{fk} = d.{pk} AND ({fact_pred}) "
            f"ORDER BY rk ASC, {ukey} LIMIT {j1}) a"
        )
        body_b = (
            f"SELECT m, rk FROM ("
            f"SELECT {cents} AS m, "
            f"RANK() OVER (ORDER BY {cents} {dir2}{nulls}) AS rk "
            f"FROM {fact} f "
            f"WHERE f.{fk} = d.{pk} AND ({fact_pred})) b "
            f"WHERE rk <= {j2}"
        )
        q = (
            f"SELECT d.{pk}, t.m, t.rk FROM {dim} d, "
            f"LATERAL (({body_a}) {op} ({body_b})) t"
        )
        if rng.random() < 0.4:
            q += f" WHERE ({dim_pred})"
        return q
    if flavor == "nested2":
        # wave 6: correlated laterals nested TWO deep, each
        # correlation crossing exactly ONE lateral boundary (probed
        # aligned: region -> nation -> customer).  TWO capability
        # boundaries found while building this flavor, both LOUD
        # (dialect-only, so not fuzzed): (a) a lateral body containing
        # ROLLUP/GROUPING SETS is DuckDB-only — Spark cannot
        # decorrelate an outer reference under Expand
        # (UNSUPPORTED_SUBQUERY_EXPRESSION_CATEGORY); (b) an outer
        # reference crossing TWO lateral boundaries at once is
        # DuckDB-only — Spark resolves lateral correlation one level
        # up (UNRESOLVED_COLUMN).
        agg = rng.choice(["MAX", "MIN", "SUM", "COUNT"])
        inner_m = (f"{agg}({cents})" if agg != "COUNT"
                   else "COUNT(*)")
        if (dim, fact) != ("customer", "orders"):
            dim, pk = "customer", "c_custkey"
        dstr2 = rng.choice(TABLE_COLS["customer"]["strs"])
        # measure comes from lineitem (the innermost slice); the
        # aggregate reads the derived table's column
        lcents = "CAST(floor(f.l_extendedprice * 100 + 0.5) AS BIGINT)"
        inner_m = f"{agg}(lc)" if agg != "COUNT" else "COUNT(*)"
        l_pred = _gen_predicate(con, "lineitem", TABLE_COLS["lineitem"], rng)
        for c in (TABLE_COLS["lineitem"]["ints"]
                  + TABLE_COLS["lineitem"]["floats"]
                  + TABLE_COLS["lineitem"]["strs"]
                  + TABLE_COLS["lineitem"]["dates"]):
            l_pred = re.sub(rf"(?<![\w.]){c}\b", f"f.{c}", l_pred)
        # the inner aggregate lateral is LEFT ... ON true with a
        # COALESCE read-back — the spelling that stays aligned at
        # nesting depth.  A comma-lateral whose ungrouped aggregate
        # reads the correlated slice diverges SILENTLY on empty
        # slices (Spark emits the mandatory aggregate row per outer,
        # DuckDB prunes the outer — the seed-110004 find, pinned in
        # test_lateral_scalar_aggregate_empty_slice seam test, RULE
        # 13); the derived-table wrap aligns at the FLAT level only.
        return (
            f"SELECT d.{pk}, d.{dstr2}, t.o_orderkey, t.mx0 "
            f"FROM customer d, LATERAL ("
            f"SELECT m.o_orderkey, COALESCE(u.mx, 0) AS mx0 "
            f"FROM orders m LEFT JOIN LATERAL ("
            f"SELECT CAST({inner_m} AS BIGINT) AS mx FROM ("
            f"SELECT {lcents.replace('f.', 's0.')} AS lc "
            f"FROM lineitem s0 "
            f"WHERE s0.l_orderkey = m.o_orderkey "
            f"AND ({l_pred.replace('f.', 's0.')})"
            f") s"
            f") u ON true "
            f"WHERE m.o_custkey = d.{pk}"
            f") t"
        )
    if flavor == "leftlat":
        # wave 5: LEFT JOIN LATERAL — dims with an EMPTY lateral are
        # null-extended (probed aligned, incl. rank filters in the ON
        # clause, which both engines apply post-lateral while keeping
        # the extension)
        j = rng.choice([1, 2])
        on = rng.choice(["true", f"t.rk <= {j}"])
        body = (
            f"SELECT {cents} AS m, "
            f"RANK() OVER (ORDER BY {cents} {direction}{nulls}) AS rk "
            f"FROM {fact} f "
            f"WHERE f.{fk} = d.{pk} AND ({fact_pred})"
        )
        # read-back flavors: raw NULLs, COALESCE'd sentinels, and a
        # null-extension indicator — the null-extended m/rk must flow
        # through COALESCE identically on both engines
        proj = rng.choice([
            "t.m, t.rk",
            "COALESCE(t.m, -1) AS m0, COALESCE(t.rk, 0) AS rk0",
            "COALESCE(t.m, -1) AS m0, "
            "CASE WHEN t.rk IS NULL THEN 1 ELSE 0 END AS extended",
        ])
        q = (
            f"SELECT {dkeys}, {proj} FROM {dim} d "
            f"LEFT JOIN LATERAL ({body}) t ON {on}"
        )
        if rng.random() < 0.4:
            # outer predicate on the DIM keeps null-extended rows
            q += f" WHERE ({dim_pred})"
        return q
    if flavor == "latjoin":
        # wave 4: decorrelation THROUGH a join — the lateral body is a
        # PK-FK join, measure from either side; RANK keeps ties
        dim2, fact2, pk2, fk2, mcol, malias = rng.choice([
            ("part", "lineitem", "p_partkey", "l_partkey",
             "l_extendedprice", "f"),
            ("supplier", "lineitem", "s_suppkey", "l_suppkey",
             "l_quantity", "f"),
            ("part", "lineitem", "p_partkey", "l_partkey",
             "p_retailprice", "g"),
        ])
        if (dim, fact) != ("orders", "lineitem"):
            dim, fact, pk, fk = "orders", "lineitem", "o_orderkey", "l_orderkey"
        m2 = f"CAST(floor({malias}.{mcol} * 100 + 0.5) AS BIGINT)"
        g_pred = _gen_predicate(con, dim2, TABLE_COLS[dim2], rng)
        gcols = TABLE_COLS[dim2]
        for c in gcols["ints"] + gcols["floats"] + gcols["strs"] + gcols["dates"]:
            g_pred = re.sub(rf"(?<![\w.]){c}\b", f"g.{c}", g_pred)
        j = rng.choice([1, 2, 3])
        body = (
            f"SELECT {m2} AS m, "
            f"RANK() OVER (ORDER BY {m2} {direction}) AS rk "
            f"FROM {fact} f JOIN {dim2} g ON f.{fk2} = g.{pk2} "
            f"WHERE f.{fk} = d.{pk} AND ({g_pred})"
        )
        return (
            f"SELECT d.{pk}, d.o_orderpriority, t.m, t.rk "
            f"FROM {dim} d, LATERAL ({body}) t WHERE t.rk <= {j}"
        )
    if flavor == "rangewin":
        # wave 4: the second window uses a RANGE frame over the single
        # numeric dim pk — peers are ALL lateral rows of that pk, so
        # the frame is value-determined whatever the tie order
        j = rng.choice([1, 2])
        off = rng.choice([0, 1, 5, 1000])
        frame = rng.choice([
            f"RANGE BETWEEN {off} PRECEDING AND CURRENT ROW",
            f"RANGE BETWEEN CURRENT ROW AND {off} FOLLOWING",
            "RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW",
        ])
        dstr = rng.choice(dc["strs"])
        body = (
            f"SELECT {cents} AS m, "
            f"RANK() OVER (ORDER BY {cents} {direction}{nulls}) AS rk "
            f"FROM {fact} f "
            f"WHERE f.{fk} = d.{pk} AND ({fact_pred})"
        )
        return (
            f"SELECT d.{pk}, t.m, t.rk, "
            f"CAST(SUM(t.m) OVER (PARTITION BY d.{dstr} "
            f"ORDER BY d.{pk} ASC {frame}) AS BIGINT) AS rs2 "
            f"FROM {dim} d, LATERAL ({body}) t WHERE t.rk <= {j}"
        )
    if flavor == "setop":
        # wave 3: LATERAL composed with set ops — two rank-filtered
        # lateral queries (deterministic multisets) under
        # INTERSECT/EXCEPT/UNION ALL dedup semantics
        op = rng.choice(["INTERSECT", "EXCEPT", "UNION ALL"])
        parts = []
        for j, dirn in ((rng.choice([1, 2]), direction),
                        (rng.choice([2, 3]),
                         rng.choice(["ASC", "DESC"]))):
            body = (
                f"SELECT {cents} AS m, "
                f"RANK() OVER (ORDER BY {cents} {dirn}{nulls}) AS rk "
                f"FROM {fact} f "
                f"WHERE f.{fk} = d.{pk} AND ({fact_pred})"
            )
            parts.append(
                f"SELECT d.{pk} AS k, t.m, t.rk FROM {dim} d, "
                f"LATERAL ({body}) t WHERE t.rk <= {j}"
            )
        return f"({parts[0]}) {op} ({parts[1]})"
    if flavor == "winover":
        # wave 3: a SECOND window over the lateral's output (double
        # window through decorrelation).  Deterministic under ties:
        # sort is (dim pk, rk) and rows tied on both carry EQUAL m
        # (rk <-> m is a bijection within a slice), so every frame's
        # sum is position-determined whatever the tie permutation.
        j = rng.choice([1, 2, 3])
        frame = rng.choice(
            ["ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW",
             "ROWS BETWEEN 2 PRECEDING AND CURRENT ROW",
             "ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING"]
        )
        dstr = rng.choice(dc["strs"])
        body = (
            f"SELECT {cents} AS m, "
            f"RANK() OVER (ORDER BY {cents} {direction}{nulls}) AS rk "
            f"FROM {fact} f "
            f"WHERE f.{fk} = d.{pk} AND ({fact_pred})"
        )
        return (
            f"SELECT d.{pk}, t.m, t.rk, "
            f"CAST(SUM(t.m) OVER (PARTITION BY d.{dstr} "
            f"ORDER BY d.{pk} ASC, t.rk ASC {frame}) AS BIGINT) AS rs2 "
            f"FROM {dim} d, LATERAL ({body}) t WHERE t.rk <= {j}"
        )
    if flavor == "rankfilter":
        j = rng.choice([1, 2, 3])
        body = (
            f"SELECT {cents} AS m, "
            f"RANK() OVER (ORDER BY {cents} {direction}{nulls}) AS rk "
            f"FROM {fact} f "
            f"WHERE f.{fk} = d.{pk} AND ({fact_pred})"
        )
        outer = (f"SELECT {dkeys}, t.m, t.rk FROM {dim} d, "
                 f"LATERAL ({body}) t WHERE t.rk <= {j}")
        outer_has_where = True
    elif flavor == "aggwin":
        agg = rng.choice(["MAX", "MIN"])
        body = (
            f"SELECT {agg}(rsum) AS mx, COUNT(*) AS n FROM ("
            f"SELECT CAST(SUM({cents}) OVER (ORDER BY {ukey}, "
            f"{cents} ASC{nulls} "
            f"ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) "
            f"AS BIGINT) AS rsum "
            f"FROM {fact} f "
            f"WHERE f.{fk} = d.{pk} AND ({fact_pred})) s"
        )
        outer = (f"SELECT {dkeys}, t.mx, t.n FROM {dim} d, "
                 f"LATERAL ({body}) t")
        outer_has_where = False
    else:
        j = rng.choice([1, 2, 3])
        body = (
            f"SELECT {cents} AS m, "
            f"RANK() OVER (ORDER BY {cents} {direction}{nulls}) AS rk "
            f"FROM {fact} f "
            f"WHERE f.{fk} = d.{pk} AND ({fact_pred}) "
            f"ORDER BY rk ASC, {ukey} LIMIT {j}"
        )
        outer = (f"SELECT {dkeys}, t.m, t.rk FROM {dim} d, "
                 f"LATERAL ({body}) t")
        outer_has_where = False
    if rng.random() < 0.5:
        # NB: the lateral BODY contains a WHERE — track the outer's own
        outer += (" AND " if outer_has_where else " WHERE ")
        outer += f"({dim_pred})"
    return outer


def _gen_rollupwin(con, rng: random.Random) -> str:
    """Windows OVER grouping-set outputs (r16 — the tpcds_q36 shape as
    a family; the existing winsetgroup family covers the REVERSE
    composition, grouping sets over window outputs): aggregate under
    ROLLUP / CUBE / GROUPING SETS with GROUPING() indicators, then
    RANK/DENSE_RANK the resulting level table partitioned by grouping
    level (optionally with the q36 rank-within-PARENT CASE — NULL
    parent partitions group identically on both engines).  Rank keys:
    the exact BIGINT sum, the count, or their double ratio (identical
    operands both engines, so equal ratios tie identically).  The
    house empty-rollup HAVING guard applies; NULLIF'd g2 values ride
    as data-NULLs disambiguated from rollup-NULLs by GROUPING();
    nullable tiebreak keys always spell NULLS FIRST/LAST.

    r17 wave: a THREE-COLUMN flavor (lineitem/part, the tables with
    >= 3 group columns) under CUBE(g1, g2, g3) / ROLLUP(g1, g2, g3) /
    a 4-set GROUPING SETS — windows over the full 8-level CUBE
    lattice, the genuinely-open corner the r16 notes name.

    r18 wave: the 3-col flavor's within-parent CASE now draws TWO
    prefix columns (4 of 7 partition choices) and the 3-col dispatch
    is raised to 0.5 so campaigns concentrate on the open corner."""
    if rng.random() < 0.5:
        return _gen_rollupwin3(con, rng)
    table = rng.choice(["lineitem", "orders", "part", "customer"])
    cols = TABLE_COLS[table]
    g1, g2 = rng.sample(cols["groups"], 2)
    fcol = rng.choice(cols["floats"])
    cents = f"CAST(floor({fcol} * 100 + 0.5) AS BIGINT)"
    pred = _gen_predicate(con, table, cols, rng)
    v2 = g2
    if rng.random() < 0.3:
        sv = _sample_values(con, table, g2, rng, 1)
        if sv:
            kind = "int" if g2 in cols["ints"] else "str"
            v2 = f"NULLIF({g2}, {_lit(kind, sv[0])})"
    gtype = rng.choice(
        ["ROLLUP(g1, g2)", "CUBE(g1, g2)",
         "GROUPING SETS ((g1, g2), (g1), ())"]
    )
    rank_fn = rng.choice(["RANK", "RANK", "DENSE_RANK"])
    key = rng.choice(["s", "n", "ratio"])
    key_expr = {"s": "s", "n": "n",
                "ratio": "CAST(s AS DOUBLE) / n"}[key]
    dirn = rng.choice(["ASC", "DESC"])
    part = rng.choice([
        "gg1 + gg2",
        "gg1, gg2",
        "gg1 + gg2, CASE WHEN gg2 = 0 THEN g1 END",  # q36: within parent
    ])
    tiebreak = ""
    if rng.random() < 0.5:
        # full tiebreak over the (nullable) rollup keys — NULLS spelled
        tiebreak = (", g1 ASC NULLS FIRST, g2 ASC NULLS LAST"
                    if rng.random() < 0.5
                    else ", g2 DESC NULLS FIRST, g1 DESC NULLS LAST")
    q = (
        f"WITH f AS (SELECT {g1} AS g1, {v2} AS g2, {cents} AS m "
        f"FROM {table} WHERE ({pred})), "
        f"g AS (SELECT g1, g2, CAST(GROUPING(g1) AS INT) AS gg1, "
        f"CAST(GROUPING(g2) AS INT) AS gg2, "
        f"CAST(SUM(m) AS BIGINT) AS s, COUNT(*) AS n "
        f"FROM f GROUP BY {gtype} HAVING COUNT(*) > 0) "
        f"SELECT g1, g2, gg1, gg2, s, n, "
        f"{rank_fn}() OVER (PARTITION BY {part} "
        f"ORDER BY {key_expr} {dirn}{tiebreak}) AS rk "
        f"FROM g"
    )
    if rng.random() < 0.35:
        # r16 late wave: a SECOND window over the rank output — a
        # running sum across each grouping level in rank order.  The
        # sort spells a TOTAL order (rk, gg1, gg2, then both nullable
        # rollup keys with explicit NULLS): RANK ties resolve through
        # the keys, so every ROWS-frame prefix sum is
        # position-determined on both engines.
        frame = rng.choice(
            ["ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW",
             "ROWS BETWEEN 2 PRECEDING AND CURRENT ROW"]
        )
        q = (
            f"SELECT g1, g2, gg1, gg2, s, n, rk, "
            f"CAST(SUM(s) OVER (PARTITION BY gg1 + gg2 "
            f"ORDER BY rk ASC, gg1 ASC, gg2 ASC, "
            f"g1 ASC NULLS FIRST, g2 ASC NULLS LAST {frame}) "
            f"AS BIGINT) AS rs2 FROM ({q}) z0"
        )
    if rng.random() < 0.4:
        j = rng.choice([1, 2, 3])
        q = f"SELECT * FROM ({q}) z WHERE rk <= {j}"
    return q


# Synthetic cols dict for the UNION'd exactrefine sources: predicate
# sampling runs against the union SUBQUERY's output columns (gsrc /
# vsrc / rsrc), which _sample_values handles because its SELECT just
# wraps whatever table text it is given.
_UNION_COLS = dict(
    ints=["vsrc", "rsrc"],
    floats=[],
    strs=["gsrc"],
    dates=[],
    groups=["gsrc"],
)
# union sources whose group key is an INTEGER (nationkey merges) —
# predicate literals must not be quoted
_UNION_COLS_INT = dict(
    ints=["vsrc", "rsrc", "gsrc"],
    floats=[],
    strs=[],
    dates=[],
    groups=["gsrc"],
)


def _gen_rollupwin3(con, rng: random.Random) -> str:
    """The r17 three-column rollupwin flavor: windows over the output
    of CUBE(g1, g2, g3) (all 8 grouping levels at once), a 3-col
    ROLLUP, or a 4-set GROUPING SETS — partitioned by the grouping
    vector (summed or spelled out, optionally with a q36-style
    within-parent CASE), ranked on the exact BIGINT sum / count /
    their double ratio, with the house empty-rollup HAVING guard and
    every nullable sort key's NULLS spelled.  The optional NULLIF
    rides on g3 (data-NULLs vs lattice-NULLs disambiguated by
    GROUPING()); the optional second window runs a ROWS-framed
    running sum over the rank output under a spelled total order
    across all three nullable keys."""
    table = rng.choice(["lineitem", "part"])  # the >=3-group tables
    cols = TABLE_COLS[table]
    g1, g2, g3 = rng.sample(cols["groups"], 3)
    fcol = rng.choice(cols["floats"])
    cents = f"CAST(floor({fcol} * 100 + 0.5) AS BIGINT)"
    pred = _gen_predicate(con, table, cols, rng)
    # r18b corner: with p=0.25 FORCE the NULLIF'd g3 and a two-prefix
    # CASE that PARTITIONS ON g3 to co-occur (independently they meet
    # in only ~8% of cases) — data NULLs manufactured by the NULLIF
    # must disambiguate from lattice NULLs inside the partition CASE
    # itself, the corner the r18 notes left open.
    combo = rng.random() < 0.25
    v3 = g3
    nullif_drawn = False
    if combo or rng.random() < 0.3:
        sv = _sample_values(con, table, g3, rng, 1)
        if sv:
            kind = "int" if g3 in cols["ints"] else "str"
            v3 = f"NULLIF({g3}, {_lit(kind, sv[0])})"
            nullif_drawn = True
    gtype = rng.choice(
        ["CUBE(g1, g2, g3)", "CUBE(g1, g2, g3)",  # the open corner
         "ROLLUP(g1, g2, g3)",
         "GROUPING SETS ((g1, g2, g3), (g1, g2), (g2, g3), ())"]
    )
    rank_fn = rng.choice(["RANK", "RANK", "DENSE_RANK"])
    key_expr = rng.choice(["s", "n", "CAST(s AS DOUBLE) / n"])
    dirn = rng.choice(["ASC", "DESC"])
    if combo and nullif_drawn:
        part = rng.choice([
            "gg1 + gg2 + gg3, CASE WHEN gg2 = 0 THEN g2 END,"
            " CASE WHEN gg3 = 0 THEN g3 END",
            "gg1 + gg2 + gg3, CASE WHEN gg1 = 0 THEN g1 END,"
            " CASE WHEN gg3 = 0 THEN g3 END",
        ])
    else:
        part = rng.choice([
        "gg1 + gg2 + gg3",
        "gg1, gg2, gg3",
        "gg1 + gg2 + gg3, CASE WHEN gg2 = 0 THEN g1 END",  # within parent
        # r18 corner (drawn 2x each): within-parent CASE over TWO
        # prefix columns — ranks partition by BOTH parent keys
        # wherever the grouping level retains them (NULL lattice keys
        # vs data NULLs disambiguated by the GROUPING flags, not the
        # values)
        "gg1 + gg2 + gg3, CASE WHEN gg1 = 0 THEN g1 END,"
        " CASE WHEN gg2 = 0 THEN g2 END",
        "gg1 + gg2 + gg3, CASE WHEN gg1 = 0 THEN g1 END,"
        " CASE WHEN gg2 = 0 THEN g2 END",
        "gg1 + gg2 + gg3, CASE WHEN gg2 = 0 THEN g2 END,"
        " CASE WHEN gg3 = 0 THEN g3 END",
        "gg1 + gg2 + gg3, CASE WHEN gg2 = 0 THEN g2 END,"
        " CASE WHEN gg3 = 0 THEN g3 END",
        ])
    tiebreak = ""
    if rng.random() < 0.5:
        tiebreak = (
            ", g1 ASC NULLS FIRST, g2 ASC NULLS LAST, g3 ASC NULLS LAST"
            if rng.random() < 0.5
            else ", g3 DESC NULLS FIRST, g1 DESC NULLS LAST,"
                 " g2 ASC NULLS FIRST"
        )
    q = (
        f"WITH f AS (SELECT {g1} AS g1, {g2} AS g2, {v3} AS g3, "
        f"{cents} AS m FROM {table} WHERE ({pred})), "
        f"g AS (SELECT g1, g2, g3, CAST(GROUPING(g1) AS INT) AS gg1, "
        f"CAST(GROUPING(g2) AS INT) AS gg2, "
        f"CAST(GROUPING(g3) AS INT) AS gg3, "
        f"CAST(SUM(m) AS BIGINT) AS s, COUNT(*) AS n "
        f"FROM f GROUP BY {gtype} HAVING COUNT(*) > 0) "
        f"SELECT g1, g2, g3, gg1, gg2, gg3, s, n, "
        f"{rank_fn}() OVER (PARTITION BY {part} "
        f"ORDER BY {key_expr} {dirn}{tiebreak}) AS rk "
        f"FROM g"
    )
    if rng.random() < 0.35:
        frame = rng.choice(
            ["ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW",
             "ROWS BETWEEN 2 PRECEDING AND CURRENT ROW"]
        )
        q = (
            f"SELECT g1, g2, g3, gg1, gg2, gg3, s, n, rk, "
            f"CAST(SUM(s) OVER (PARTITION BY gg1 + gg2 + gg3 "
            f"ORDER BY rk ASC, gg1 ASC, gg2 ASC, gg3 ASC, "
            f"g1 ASC NULLS FIRST, g2 ASC NULLS LAST, "
            f"g3 ASC NULLS LAST {frame}) "
            f"AS BIGINT) AS rs2 FROM ({q}) z0"
        )
    if rng.random() < 0.4:
        j = rng.choice([1, 2, 3])
        q = f"SELECT * FROM ({q}) z WHERE rk <= {j}"
    return q


def _gen_exactrefine(con, rng: random.Random):
    """THE ASYMMETRIC FAMILY (r15 verdict #2): fuzzes the two-pass
    broadcast-prune + rank-walk EXACT quantile pipeline — the
    machinery behind q_exact_median_refine / q_exact_quartiles_refine
    / q_exact_weighted_median (operators/advanced.py) — by SPELLING
    THE WHOLE PIPELINE as Spark SQL and comparing it against DuckDB's
    NATIVE median / percentile_disc / cumulative-walk computation on
    the same rows.  Returns a (spark_sql, duck_sql) PAIR, the only
    generator that does; the runner executes each side on its own
    engine.

    What it machine-checks (previously pinned only by hand-written
    differentials): (a) the target-bucket fetch — MIN(CASE WHEN
    den*run >= num*tot THEN b/run_before END) picks the first
    crossing bucket because run is monotone in b; (b) the pass-2
    rank walk — row_number among TIED values is arbitrary but the
    VALUE at rank k is deterministic (ties are FORCED by quantizing
    the cents to a coarse multiple); (c) zero-weight rows never flip
    the weighted crossing (weights are sampled from a modular class
    that includes 0); (d) the bracket algebra survives NEGATIVE
    domains (c_acctbal cents, plus a random downward shift) under
    the positive-mod floor-bucket spelling; (e) NULLIF holes at
    data values near the crossing are skipped identically.

    Randomized: table/group/value, bucket width W (non-round widths
    included), target fraction num/den (arbitrary rationals — the
    cumulative-walk oracle affords what percentile_disc's
    binary-exact-only literals cannot), mode (median-pair / single
    rank / weighted threshold), predicate, tie-quantization, NULL
    holes, weight class.

    r17 wave: UNION'd sources — the refine pipeline downstream of a
    UNION ALL of two facts (lineitem+orders, customer+orders
    negative-rich, and two SLICES of lineitem sharing l_linestatus so
    each group's distribution is a bimodal cross-source merge).  The
    union subquery is portable, shared verbatim in c0; predicates
    sample at the union OUTPUT columns via the synthetic
    _UNION_COLS."""
    choices = [
        ("lineitem", "l_returnflag",
         "CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)", "l_orderkey"),
        ("lineitem", "l_linestatus",
         "CAST(floor(l_quantity + 0.5) AS BIGINT)", "l_partkey"),
        ("orders", "o_orderpriority",
         "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)", "o_orderkey"),
        ("orders", "o_orderstatus",
         "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)", "o_custkey"),
        ("customer", "c_mktsegment",  # negative-rich domain
         "CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)", "c_custkey"),
        ("customer", "c_nationkey",
         "CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)", "c_custkey"),
        ("part", "p_brand", "CAST(p_size AS BIGINT)", "p_partkey"),
        ("documents", "lang", "CAST(n_chars AS BIGINT)", "doc_id"),
        ("documents", "source", "CAST(n_chars AS BIGINT)", "doc_id"),
        # JOINED sources (r16 late wave — the refine pipeline
        # downstream of a PK-FK join; the join text is portable and
        # shared verbatim in c0 on both engines; predicates sample
        # from the FACT side's column set, names unique across pairs)
        ("lineitem JOIN part ON l_partkey = p_partkey", "p_brand",
         "CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)"
         " AS BIGINT)", "l_orderkey", "lineitem"),
        ("orders JOIN customer ON o_custkey = c_custkey",
         "c_mktsegment",
         "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)",
         "o_orderkey", "orders"),
        ("lineitem JOIN supplier ON l_suppkey = s_suppkey",
         "s_nationkey",
         "CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)",
         "l_partkey", "lineitem"),
        # UNION'd sources (r17 — the refine pipeline downstream of a
        # UNION ALL of two facts; the union text is portable and
        # shared verbatim in c0 on both engines; the synthetic cols
        # dict routes predicate sampling at the UNION OUTPUT columns,
        # which DuckDB samples straight off the subquery)
        ("(SELECT l_returnflag AS gsrc, CAST(floor(l_extendedprice"
         " * 100 + 0.5) AS BIGINT) AS vsrc, l_orderkey AS rsrc"
         " FROM lineitem UNION ALL SELECT o_orderstatus,"
         " CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT),"
         " o_orderkey FROM orders) u",
         "gsrc", "vsrc", "rsrc", _UNION_COLS),
        ("(SELECT c_mktsegment AS gsrc, CAST(floor(c_acctbal"
         " * 100 + 0.5) AS BIGINT) AS vsrc, c_custkey AS rsrc"
         " FROM customer UNION ALL SELECT o_orderpriority,"
         " CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT),"
         " o_custkey FROM orders) u",  # negative-rich left source
         "gsrc", "vsrc", "rsrc", _UNION_COLS),
        # OVERLAPPING group domains: both slices carry l_linestatus,
        # so each group's value distribution is the bimodal MERGE of
        # two scales — the walk must cross sources inside one group
        ("(SELECT l_linestatus AS gsrc, CAST(floor(l_quantity + 0.5)"
         " AS BIGINT) AS vsrc, l_partkey AS rsrc FROM lineitem"
         " WHERE l_returnflag = 'R' UNION ALL SELECT l_linestatus,"
         " CAST(floor(l_tax * 10000 + 0.5) AS BIGINT), l_suppkey"
         " FROM lineitem WHERE l_returnflag <> 'R') u",
         "gsrc", "vsrc", "rsrc", _UNION_COLS),
        # UNION of two PK-FK JOINS (r18 — the composed corner the r17
        # notes left open): each union branch is itself a join, so
        # the refine pipeline runs downstream of union+join plans on
        # BOTH engines; group domains overlap fully (c_mktsegment /
        # nationkey on both branches), making every group a bimodal
        # cross-JOIN-source merge the walk must cross
        ("(SELECT c.c_mktsegment AS gsrc, CAST(floor(l.l_extendedprice"
         " * (1 - l.l_discount) * 100 + 0.5) AS BIGINT) AS vsrc,"
         " l.l_orderkey AS rsrc FROM lineitem l"
         " JOIN orders o ON l.l_orderkey = o.o_orderkey"
         " JOIN customer c ON o.o_custkey = c.c_custkey"
         " UNION ALL SELECT c2.c_mktsegment,"
         " CAST(floor(o2.o_totalprice * 100 + 0.5) AS BIGINT),"
         " o2.o_orderkey FROM orders o2"
         " JOIN customer c2 ON o2.o_custkey = c2.c_custkey) u",
         "gsrc", "vsrc", "rsrc", _UNION_COLS),
        ("(SELECT s.s_nationkey AS gsrc, CAST(floor(l.l_extendedprice"
         " * 100 + 0.5) AS BIGINT) AS vsrc, l.l_partkey AS rsrc"
         " FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey"
         " UNION ALL SELECT c.c_nationkey,"
         " CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT),"
         " o.o_custkey FROM orders o"
         " JOIN customer c ON o.o_custkey = c.c_custkey) u",
         "gsrc", "vsrc", "rsrc", _UNION_COLS_INT),
    ]
    # r18 concentration: the union-of-joins corner draws 3x so a
    # campaign accumulates corner cases at a useful rate (the two
    # composed sources are the last two entries)
    choices += choices[-2:] * 2
    choice = rng.choice(choices)
    table, g, base, rowcol = choice[:4]
    if len(choice) == 5 and isinstance(choice[4], dict):
        cols = choice[4]
    else:
        cols = TABLE_COLS[choice[4] if len(choice) == 5 else table]
    g_filter = ""
    if rng.random() < 0.2:
        # NULLIF'd group key, EXCLUDED on both sides: the pipeline's
        # pass-2 equi-join would drop a NULL group on Spark while the
        # oracle's GROUP BY keeps it — registered operators never
        # group on a nullable key, so the house spelling is the
        # explicit IS NOT NULL (this flavor fuzzes the NULLIF +
        # filter interplay, i.e. a whole group vanishing from the
        # analysis)
        sv = _sample_values(con, table, g, rng, 1)
        if sv:
            # kind from the sampled VALUE, not the cols dict — joined
            # sources group on the DIM side, outside the fact colset
            kind = "int" if isinstance(sv[0], int) else "str"
            g = f"NULLIF({g}, {_lit(kind, sv[0])})"
            g_filter = f" AND ({g}) IS NOT NULL"
    # shift to force negative buckets even on positive sources
    shift = rng.choice([0, 0, 0, 777, 123457, 10_000_000])
    c = f"({base} - {shift})" if shift else base
    # FORCE ties half the time: quantize cents to a coarse multiple
    # via the sanctioned positive-mod floor spelling (portable — the
    # c0 body is shared verbatim between both sides)
    if rng.random() < 0.5:
        q = rng.choice([10, 100, 1000, 2500])
        c = f"({c} - ((({c} % {q}) + {q}) % {q}))"
    pred = (_near_empty_pred(con, table, cols, rng)
            if rng.random() < 0.25
            else _gen_predicate(con, table, cols, rng))
    mode = rng.choice(["median2", "rank", "rank", "weighted", "weighted"])
    # num/den target fraction (num < den); arbitrary rationals are fine
    # because the oracle is a cumulative walk, not a float literal
    den = rng.choice([2, 3, 4, 5, 7, 8, 10])
    num = rng.randrange(1, den)
    w_expr = rng.choice([
        "CAST(1 AS BIGINT)",
        f"((({rowcol} % 5) + 5) % 5)",      # zero-rich (~20% zeros)
        f"((({rowcol} % 7) + 7) % 7) + 1",  # strictly positive
    ])
    sel = f"{g} AS g, {c} AS c, {w_expr} AS w"
    c0 = f"SELECT {sel} FROM {table} WHERE ({pred}){g_filter}"
    if rng.random() < 0.4:
        # punch a NULL hole at an actual data value near the median
        # crossing, then drop it on both sides — the pipeline must
        # skip holes identically
        cnt = con.execute(
            f"SELECT COUNT(*) FROM {table} WHERE ({pred}) "
            f"AND {c} IS NOT NULL"
        ).fetchone()[0]
        row = con.execute(
            f"SELECT {c} AS v FROM {table} WHERE ({pred}) "
            f"ORDER BY v LIMIT 1 OFFSET {max(cnt, 2) // 2}"
        ).fetchone() if cnt else None
        if row and row[0] is not None:
            c0 = (
                f"SELECT g, c, w FROM (SELECT {g} AS g, "
                f"NULLIF({c}, {row[0]}) AS c, {w_expr} AS w "
                f"FROM {table} WHERE ({pred}){g_filter}) s0 "
                f"WHERE c IS NOT NULL"
            )
    W = rng.choice([3, 7, 17, 93, 1000, 12345, 100000])
    bkt = lambda e: f"(({e} - ((({e} % {W}) + {W}) % {W})) DIV {W})"  # noqa: E731

    if mode == "weighted":
        spark_sql = f"""WITH c0 AS ({c0}),
h AS (SELECT g, {bkt('c')} AS b, CAST(SUM(w) AS BIGINT) AS wsum
      FROM c0 GROUP BY g, {bkt('c')}),
cum AS (SELECT g, b, wsum,
        SUM(wsum) OVER (PARTITION BY g ORDER BY b ASC
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run,
        SUM(wsum) OVER (PARTITION BY g) AS tot FROM h),
tgt AS (SELECT g, MIN(tot) AS tw,
        MIN(CASE WHEN {den} * run >= {num} * tot THEN b END) AS tb,
        MIN(CASE WHEN {den} * run >= {num} * tot THEN run - wsum END) AS rb
        FROM cum GROUP BY g),
p2 AS (SELECT f.g, f.c, t.rb, t.tw,
        SUM(f.w) OVER (PARTITION BY f.g ORDER BY f.c ASC
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw
       FROM c0 f JOIN tgt t ON f.g = t.g AND {bkt('f.c')} = t.tb)
SELECT g, CAST(MIN(tw) AS BIGINT) AS tw,
       MIN(CASE WHEN {den} * (rb + cw) >= {num} * tw THEN c END) AS val
FROM p2 GROUP BY g"""
        if (w_expr == "CAST(1 AS BIGINT)" and den in (2, 4, 8)
                and rng.random() < 0.5):
            # uniform weights + binary-exact fraction: the weighted
            # walk degenerates to percentile_disc — cross-check the
            # whole weighted pipeline against DuckDB's NATIVE
            # order-statistic instead of the cumulative-walk spelling
            duck_sql = f"""WITH c0 AS ({c0})
SELECT g, COUNT(*) AS tw,
       CAST(percentile_disc({num / den!r}) WITHIN GROUP (ORDER BY c ASC)
            AS BIGINT) AS val
FROM c0 GROUP BY g"""
        else:
            duck_sql = f"""WITH c0 AS ({c0}),
r AS (SELECT g, c,
      SUM(w) OVER (PARTITION BY g ORDER BY c ASC
        RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
      SUM(w) OVER (PARTITION BY g) AS tw FROM c0)
SELECT g, CAST(MIN(tw) AS BIGINT) AS tw,
       MIN(CASE WHEN {den} * cw >= {num} * tw THEN c END) AS val
FROM r GROUP BY g"""
        return spark_sql, duck_sql

    if mode == "rank":
        spark_sql = f"""WITH c0 AS ({c0}),
h AS (SELECT g, {bkt('c')} AS b, COUNT(*) AS cnt
      FROM c0 GROUP BY g, {bkt('c')}),
cum AS (SELECT g, b, cnt,
        SUM(cnt) OVER (PARTITION BY g ORDER BY b ASC
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run,
        SUM(cnt) OVER (PARTITION BY g) AS tot FROM h),
tgt AS (SELECT g, MIN(tot) AS tot,
        ({num} * MIN(tot) + {den} - 1) DIV {den} AS k,
        MIN(CASE WHEN {den} * run >= {num} * tot THEN b END) AS tb,
        MIN(CASE WHEN {den} * run >= {num} * tot THEN run - cnt END) AS rb
        FROM cum GROUP BY g),
p2 AS (SELECT f.g, f.c, t.k, t.rb, t.tot,
        ROW_NUMBER() OVER (PARTITION BY f.g ORDER BY f.c ASC) AS rn
       FROM c0 f JOIN tgt t ON f.g = t.g AND {bkt('f.c')} = t.tb)
SELECT g, MIN(tot) AS n,
       MIN(CASE WHEN rn = k - rb THEN c END) AS val
FROM p2 GROUP BY g"""
        # binary-exact fractions can use percentile_disc NATIVELY;
        # everything else gets the cumulative-walk oracle
        frac = num / den
        if den in (2, 4, 8) and rng.random() < 0.5:
            duck_sql = f"""WITH c0 AS ({c0})
SELECT g, COUNT(*) AS n,
       CAST(percentile_disc({frac!r}) WITHIN GROUP (ORDER BY c ASC)
            AS BIGINT) AS val
FROM c0 GROUP BY g"""
        else:
            duck_sql = f"""WITH c0 AS ({c0}),
r AS (SELECT g, c,
      ROW_NUMBER() OVER (PARTITION BY g ORDER BY c ASC) AS rnk,
      COUNT(*) OVER (PARTITION BY g) AS tot FROM c0)
SELECT g, MIN(tot) AS n,
       MIN(CASE WHEN {den} * rnk >= {num} * tot THEN c END) AS val
FROM r GROUP BY g"""
        return spark_sql, duck_sql

    # median2: both middle ranks via the even-trick integer med2
    spark_sql = f"""WITH c0 AS ({c0}),
h AS (SELECT g, {bkt('c')} AS b, COUNT(*) AS cnt
      FROM c0 GROUP BY g, {bkt('c')}),
cum AS (SELECT g, b, cnt,
        SUM(cnt) OVER (PARTITION BY g ORDER BY b ASC
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run,
        SUM(cnt) OVER (PARTITION BY g) AS tot FROM h),
cum2 AS (SELECT *, (tot + 1) DIV 2 AS k1, tot DIV 2 + 1 AS k2 FROM cum),
tgt AS (SELECT g, MIN(tot) AS tot, MIN(k1) AS k1, MIN(k2) AS k2,
        MIN(CASE WHEN run >= k1 THEN b END) AS b1,
        MIN(CASE WHEN run >= k1 THEN run - cnt END) AS rb1,
        MIN(CASE WHEN run >= k2 THEN b END) AS b2,
        MIN(CASE WHEN run >= k2 THEN run - cnt END) AS rb2
        FROM cum2 GROUP BY g),
p2 AS (SELECT f.g, f.c, t.k1, t.rb1, t.b1, t.k2, t.rb2, t.b2, t.tot,
        {bkt('f.c')} AS cb,
        ROW_NUMBER() OVER (PARTITION BY f.g, {bkt('f.c')}
          ORDER BY f.c ASC) AS rn
       FROM c0 f JOIN tgt t ON f.g = t.g
        AND ({bkt('f.c')} = t.b1 OR {bkt('f.c')} = t.b2))
SELECT g, MIN(tot) AS n,
       CAST(SUM(CASE WHEN cb = b1 AND rn = k1 - rb1 THEN c ELSE 0 END)
          + SUM(CASE WHEN cb = b2 AND rn = k2 - rb2 THEN c ELSE 0 END)
            AS BIGINT) AS med2
FROM p2 GROUP BY g"""
    duck_sql = f"""WITH c0 AS ({c0})
SELECT g, COUNT(*) AS n, CAST(median(2 * c) AS BIGINT) AS med2
FROM c0 GROUP BY g"""
    return spark_sql, duck_sql


def _gen_widecross(con, rng: random.Random):
    """r18c family: threshold cross-multiplications PAST int64 — the
    _wide (Spark DECIMAL(38,0)) / HUGEINT (DuckDB) discipline class.

    The registered TPC-DS shapes widen their ratio-threshold products
    because non-ANSI Spark silently wraps BIGINT while DuckDB
    promotes — a divergence class the registered oracles cannot
    exhibit at tested SFs (their products stay under 2^63 there).
    This family FORCES the class at every SF: random integer-unit
    aggregates with multipliers up to 1e9 push the threshold product
    to ~1e20-1e32, past int64 on both sides of the comparison.  The
    two returned texts are IDENTICAL except for the widening cast;
    the filtered rows must match exactly.

    Three forms: (a) group-share-vs-total a*s*ng cmp b*tot (the
    q1/q36/q58 class), (b) the second-moment variance threshold
    c*n*(n*s2 - s1^2) cmp d*(n-1)*s1^2 (the q39 class), (c) the
    two-channel cross-multiplied ratio pair a*sa*tb cmp b*sb*ta (the
    q64/q78 class).  Unit scales are chosen from the table's probed
    MAX so the CELL aggregation itself stays inside int64 — that is
    a different, already-guarded seam; only the threshold products
    cross the line."""
    if rng.random() < 0.35:
        # JOINED source: the threshold products run over PK-FK
        # join-aggregate cells (the q49/q5 class — group key from the
        # dim side, measure from the fact side)
        fact, dim, fk, pk = rng.choice(
            [("lineitem", "orders", "l_orderkey", "o_orderkey"),
             ("lineitem", "supplier", "l_suppkey", "s_suppkey"),
             ("orders", "customer", "o_custkey", "c_custkey")]
        )
        fcols, dcols = TABLE_COLS[fact], TABLE_COLS[dim]
        g = rng.choice(dcols["groups"])
        f = rng.choice(fcols["floats"])
        pred = (_gen_predicate(con, fact, fcols, rng)
                if rng.random() < 0.5 else "1=1")
        table = (f"(SELECT * FROM {fact} JOIN {dim} "
                 f"ON {fk} = {pk}) AS src")
        probe_from = fact
        pred_cols = fcols
    else:
        table = rng.choice(["lineitem", "orders"])
        cols = TABLE_COLS[table]
        g = rng.choice(cols["groups"])
        f = rng.choice(cols["floats"])
        pred = (_gen_predicate(con, table, cols, rng)
                if rng.random() < 0.5 else "1=1")
        probe_from = table
        pred_cols = cols
    cmp_op = rng.choice(["<", "<=", ">", ">="])
    maxv, nrows = con.execute(
        f"SELECT COALESCE(MAX({f}), 1), COUNT(*) FROM {probe_from}"
    ).fetchone()
    form = rng.choice(["share", "variance", "ratio_pair"])

    def scale_for(limit: float, square: bool) -> int:
        pick = 1
        for s in (1, 10, 100, 1000, 10_000, 1_000_000):
            unit = maxv * s + 1
            total = (unit * unit if square else unit) * max(nrows, 1)
            if total < limit:
                pick = s
        return pick

    if form == "share":
        a = rng.randint(2, 10 ** rng.randint(1, 9))
        b = rng.randint(2, 10 ** rng.randint(1, 9))
        scale = scale_for(8e18, square=False)
        tmpl = f"""
        WITH cell AS (
          SELECT {g} AS g, COUNT(*) AS n,
                 CAST(SUM(CAST(floor({f} * {scale} + 0.5) AS BIGINT))
                      AS BIGINT) AS s
          FROM {table} WHERE {pred} GROUP BY 1
        ),
        tot AS (
          SELECT CAST(SUM(s) AS BIGINT) AS t, COUNT(*) AS ng FROM cell
        )
        SELECT c.g, c.n, c.s FROM cell c, tot
        WHERE {a} * CAST(c.s AS {{W}}) * tot.ng
              {cmp_op} {b} * CAST(tot.t AS {{W}})
        """
    elif form == "variance":
        c = rng.randint(1, 10 ** rng.randint(1, 6))
        d = rng.randint(1, 10 ** rng.randint(1, 6))
        scale = scale_for(8e18, square=True)
        tmpl = f"""
        WITH cell AS (
          SELECT g, COUNT(*) AS n,
                 CAST(SUM(u) AS BIGINT) AS s1,
                 CAST(SUM(u * u) AS BIGINT) AS s2
          FROM (
            SELECT {g} AS g,
                   CAST(floor({f} * {scale} + 0.5) AS BIGINT) AS u
            FROM {table} WHERE {pred}
          ) t GROUP BY 1
        )
        SELECT g, n, s1, s2 FROM cell
        WHERE n > 1
          AND {c} * CAST(n AS {{W}})
                * (CAST(n AS {{W}}) * s2 - CAST(s1 AS {{W}}) * s1)
              {cmp_op} {d} * (CAST(n AS {{W}}) - 1) * s1 * s1
        """
    else:
        a = rng.randint(2, 1000)
        b = rng.randint(2, 1000)
        chan = _gen_predicate(con, probe_from, pred_cols, rng)
        scale = scale_for(8e18, square=False)
        tmpl = f"""
        WITH cell AS (
          SELECT g,
                 CAST(SUM(CASE WHEN ch THEN u ELSE 0 END) AS BIGINT)
                   AS sa,
                 CAST(SUM(CASE WHEN NOT ch THEN u ELSE 0 END) AS BIGINT)
                   AS sb,
                 COUNT(*) AS n
          FROM (
            SELECT {g} AS g, COALESCE(({chan}), FALSE) AS ch,
                   CAST(floor({f} * {scale} + 0.5) AS BIGINT) AS u
            FROM {table} WHERE {pred}
          ) t GROUP BY 1
        ),
        tot AS (
          SELECT CAST(SUM(sa) AS BIGINT) AS ta,
                 CAST(SUM(sb) AS BIGINT) AS tb
          FROM cell
        )
        SELECT c.g, c.sa, c.sb, c.n FROM cell c, tot
        WHERE {a} * CAST(c.sa AS {{W}}) * tot.tb
              {cmp_op} {b} * CAST(c.sb AS {{W}}) * tot.ta
        """
    return (tmpl.format(W="DECIMAL(38,0)"), tmpl.format(W="HUGEINT"))


_SHAPES = {
    "single": _gen_single_table,
    "join": _gen_join,
    "topk": _gen_topk,
    "datefunc": _gen_datefunc,
    "window": _gen_window,
    "stringfunc": _gen_stringfunc,
    "setop": _gen_setop,
    "subquery": _gen_subquery,
    "groupsets": _gen_groupsets,
    "nullcase": _gen_nullcase,
    "multijoin": _gen_multijoin,
    "joinwindow": _gen_joinwindow,
    "emptyset": _gen_emptyset,
    "outeragg": _gen_outeragg,
    "winframe": _gen_winframe,
    "nullframe": _gen_nullframe,
    "winsetop": _gen_winsetop,
    "winsetgroup": _gen_winsetgroup,
    "nullkeyjoin": _gen_nullkeyjoin,
    "ntilefuzz": _gen_ntilefuzz,
    "rangenull": _gen_rangenull,
    "nsafejoin": _gen_nsafejoin,
    "medianalg": _gen_medianalg,
    "histalg": _gen_histalg,
    "modefreq": _gen_modefreq,
    "latwin": _gen_latwin,
    "exactrefine": _gen_exactrefine,
    "rollupwin": _gen_rollupwin,
    "widecross": _gen_widecross,
}

_DEFAULT_MIX = (
    ["single"] * 3 + ["join"] * 3 + ["topk"] + ["datefunc"]
    + ["window"] * 2 + ["stringfunc"] * 2 + ["setop"] + ["subquery"] * 2
    + ["groupsets"] + ["nullcase"] + ["multijoin"] + ["joinwindow"]
    + ["emptyset"] + ["outeragg"] + ["winframe"]
    + ["nullframe"] + ["winsetop"]
    + ["winsetgroup"] + ["nullkeyjoin"] + ["ntilefuzz"]
    + ["rangenull"] + ["nsafejoin"] + ["medianalg"] + ["histalg"]
    + ["modefreq"] + ["latwin"] + ["exactrefine"] + ["rollupwin"]
    + ["widecross"]
)


def _gen_query(con, rng: random.Random, shapes: list[str] | None = None) -> str:
    if shapes is None:
        pool = _DEFAULT_MIX
    else:
        pool = [s for s in _DEFAULT_MIX if s in shapes] or list(shapes)
    return _SHAPES[rng.choice(pool)](con, rng)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=300)
    ap.add_argument("--seed-base", type=int, default=0)
    ap.add_argument("--seed", type=int, default=None,
                    help="run exactly one seed")
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--shapes", default=None,
                    help="comma-separated shape subset "
                         f"(of {sorted(_SHAPES)})")
    ap.add_argument("--ledger", action="store_true",
                    help="print + attest the campaign ledger and exit")
    args = ap.parse_args()
    if args.ledger:
        return 0 if ledger_report() else 1
    shapes = args.shapes.split(",") if args.shapes else None
    if shapes:
        unknown = set(shapes) - set(_SHAPES)
        if unknown:
            ap.error(f"unknown shapes: {sorted(unknown)}")

    import os

    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    from dpu_olap_spark.session import get_spark, tune
    from dpu_olap_spark.sources.tables import load_table
    from tests.oracle import _connect, assert_matches_oracle

    spark = get_spark("fuzz-seams")
    tune(spark)
    for t in TABLE_COLS:
        load_table(spark, args.sf, t).createOrReplaceTempView(t)
    con = _connect(args.sf)

    seeds = ([args.seed] if args.seed is not None
             else range(args.seed_base, args.seed_base + args.n))
    failures = 0
    for seed in seeds:
        rng = random.Random(seed)
        gen = _gen_query(con, rng, shapes)
        # exactrefine returns a (spark_sql, duck_sql) PAIR — the Spark
        # side spells the refine pipeline, the DuckDB side the native
        # quantile oracle; every other family shares one SQL text
        spark_sql, duck_sql = gen if isinstance(gen, tuple) else (gen, gen)
        sql = spark_sql if spark_sql == duck_sql else (
            f"[spark] {spark_sql} ||| [duck] {duck_sql}")
        try:
            assert_matches_oracle(
                f"fuzz_{seed}", spark.sql(spark_sql), duck_sql, args.sf)
            print(f"seed {seed}: OK :: {sql}")
        except AssertionError as e:
            failures += 1
            print(f"seed {seed}: DIVERGE :: {sql}\n  {e}")
        except Exception as e:  # noqa: BLE001 - report and continue
            failures += 1
            print(f"seed {seed}: ERROR :: {sql}\n  {type(e).__name__}: {e}")
    print(f"\n{len(list(seeds))} cases, {failures} divergences/errors")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
