"""Deletion-vector vintage history audit (round 14, VERDICT r13 #4).

Detects the PERSISTED footprint of the pre-r13 carried-DV re-stamp bug
(fixed in ``_commit``'s carried-vintage rule, round 13): a delete
commit used to re-stamp CARRIED deletion vectors whose explicit ``dvv``
entry had been elided (it equaled their path vintage) to the NEW
delete's version — an old tombstone then applied to files appended
since, shadowing re-inserted keys on every snapshot that inherited the
re-stamped entry. New commits are correct since r13, but tables whose
manifests already PERSISTED a re-stamped vintage keep the
wrong-by-contract shadowing on those historical snapshots (SCALE.md
r13 note). This audit makes that documented caveat inspectable.

Signature scanned for: a DV carried from version v-1 into version v
whose EFFECTIVE vintage (explicit ``dvv`` entry, else path vintage)
CHANGED across the carry. Legitimate histories never do this — new
vectors may claim a version other than their path's (manifest-race
exception entries), but a carried vector keeps whatever vintage it
already had (``_commit``'s hint/prev-first resolution order). Each
finding reports the snapshot range still serving the re-stamped
vintage so an operator can decide whether those historical snapshots
matter (current snapshots re-written by any post-r13 delete/rollback
self-heal forward).

Run: python tools/dvv_audit.py <table_root> [table_root ...]
Prints one JSON line per table: {"root": ..., "findings": [...]},
exit status 1 if any table has findings.
"""
from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def audit_dv_vintages(root: str) -> list[dict]:
    """Carried-DV vintage divergences over the table's retained
    history, oldest first. Empty list == clean history (no persisted
    pre-r13 re-stamp). Each finding:

    ``{"version": v, "dv": rel_path, "stored": eff_at_v,
       "carried_from": eff_at_v_minus_1, "op": commit_op,
       "affected_through": last_version_serving_the_stored_vintage}``

    Pure driver-side metadata — one hydrated-manifest read per
    retained version (cached), no data reads; cost is O(retained
    versions x live DVs).
    """
    from querysight_spark.sources.versioned import (
        _commit_of,
        _manifest_path,
        read_manifest,
        table_version,
    )

    latest = table_version(root)
    lo = latest
    while lo > 1 and os.path.exists(_manifest_path(root, lo - 1)):
        lo -= 1  # tables from older engine versions may lack early manifests

    def _eff(m: dict, d: str) -> int:
        return m.get("dvv", {}).get(d, _commit_of(d))

    manifests = {
        v: read_manifest(root, v, need=()) for v in range(lo, latest + 1)
    }
    findings: list[dict] = []
    for v in range(lo + 1, latest + 1):
        m, prev = manifests[v], manifests[v - 1]
        prev_dvs = set(prev.get("dvs", []))
        for d in m.get("dvs", []):
            if d not in prev_dvs:
                continue  # new vector: a claim-race stamp is legit
            eff, eff_prev = _eff(m, d), _eff(prev, d)
            if eff == eff_prev:
                continue
            end = v
            while (
                end + 1 <= latest
                and d in set(manifests[end + 1].get("dvs", []))
                and _eff(manifests[end + 1], d) == eff
            ):
                end += 1
            findings.append(
                {
                    "version": v,
                    "dv": d,
                    "stored": eff,
                    "carried_from": eff_prev,
                    "op": m.get("op"),
                    "affected_through": end,
                }
            )
    return findings


def main() -> None:
    roots = sys.argv[1:]
    if not roots:
        print(__doc__)
        raise SystemExit(2)
    dirty = False
    for root in roots:
        findings = audit_dv_vintages(root)
        dirty = dirty or bool(findings)
        print(json.dumps({"root": root, "findings": findings}))
    raise SystemExit(1 if dirty else 0)


if __name__ == "__main__":
    main()
