"""Regenerate the driver-verification ledger section of COVERAGE.md.

Reads every CORRECTNESS_r0N.json in the repo root, takes each
registered query's last driver-green round from
``queries.last_green_rounds`` (the same evidence that orders the
registry, so the registry order is the upcoming driver window), and
rewrites the "## Driver verification ledger" section (everything from
that heading to the end of COVERAGE.md). After any change to the
package sources, the ledger sequence is:

    python scripts/driver_sim.py 248 /root/testdata/sf0.01 --vanilla
    python scripts/gen_ledger.py

Freshness has one key: SWEEP_CERT.json, which ``driver_sim.py`` writes
only after a clean full-registry ``--vanilla`` sweep, records the
content hash of every runtime source it swept (``_package_hash``). The
oracle evidence is about the code on disk iff that cert is current
(``cert_current``). Like Impala's REFRESH, which invalidates a whole
table's metadata, the key is coarse: any byte change to a package .py
file or to ``__spark_entry__.py`` needs a fresh sweep.

Status legend:
- "green, unchanged"      — has a green driver row and the cert is
                            current.
- "rNN window (...)"      — scheduled in the CURRENT round's 50-slot
                            registry window (first check or re-verify).
- "STALE GREEN"           — has a green row, the cert is not current,
                            and it is NOT in the current window (must be
                            empty — run the sweep; exits nonzero).
- "BACKLOG"               — oracled but never driver-green and NOT in
                            the current window (must be empty).
- "rows-only by design"   — no SQL oracle on purpose; pytest contract.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

HEADING = "## Driver verification ledger (last green round per query)"
CERT_PATH = os.path.join(ROOT, "SWEEP_CERT.json")
_PACKAGE = "impala_refresher_spark"


def _package_hash(root: str = ROOT) -> str:
    """Content hash of every runtime source a sweep certifies: the
    package's .py files plus the driver entry. Used to tie a
    SWEEP_CERT.json to the exact code it swept — robust to doc-only
    commits (unlike a git SHA), to a dirty working tree and to the
    checkout path."""
    h = hashlib.sha256()
    paths = sorted(
        glob.glob(os.path.join(root, _PACKAGE, "**", "*.py"), recursive=True)
    ) + [os.path.join(root, "__spark_entry__.py")]
    for p in paths:
        h.update(os.path.relpath(p, root).encode())
        h.update(b"\x00")
        h.update(open(p, "rb").read())
        h.update(b"\x00")
    return h.hexdigest()[:16]


# Fixture dirs a SWEEP_CERT may cite (TESTDATA.md: the three
# driver-generated scale factors). Anything else — however green —
# is no evidence.
_ACCEPTED_SF_DIRS = frozenset(
    f"/root/testdata/sf{sf}" for sf in ("0.001", "0.01", "0.1")
)


def load_cert(path: str = CERT_PATH) -> dict | None:
    """The sweep certificate, or None if no clean full sweep wrote one."""
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return json.load(f)


def cert_current(
    cert: dict | None, oracled: set[str], pkg_hash: str
) -> tuple[bool, str]:
    """Whether the sweep evidence is about the code on disk: a
    SWEEP_CERT.json — written ONLY by scripts/driver_sim.py after a
    full-registry --vanilla run with 0 failures — covers every
    currently-oracled query, certifies the exact package sources on
    disk right now, and swept a driver-generated fixture dir."""
    if cert is None:
        return False, "no SWEEP_CERT.json (run a full-registry driver_sim sweep first)"
    if cert.get("failed"):
        return False, f"sweep had failures: {cert['failed']}"
    missing = sorted(oracled - set(cert.get("ok", [])))
    if missing:
        return False, f"sweep does not cover {len(missing)} oracled queries: {missing[:5]}..."
    if cert.get("package_hash") != pkg_hash:
        return False, (
            "package sources changed since the sweep "
            f"(cert {cert.get('package_hash')} != current {pkg_hash})"
        )
    if cert.get("sf_dir") not in _ACCEPTED_SF_DIRS:
        return False, (
            f"sweep fixture dir {cert.get('sf_dir')!r} is not one of the "
            f"driver-generated sets {sorted(_ACCEPTED_SF_DIRS)}"
        )
    return True, "ok"


def compute_statuses(
    names: list[str],
    oracled: set[str],
    last_green: dict[str, int],
    fresh: bool,
    window: set[str],
    cur: int,
) -> tuple[list[tuple[str, str, str]], list[str], list[str]]:
    """Pure status computation (unit-tested in tests/test_ledger.py);
    ``fresh`` is ``cert_current``'s verdict.

    Returns (rows, backlog, stale) where rows = [(name, last_green_str,
    status)]. BACKLOG / STALE GREEN must be empty for a clean exit."""
    rows: list[tuple[str, str, str]] = []
    backlog: list[str] = []
    stale: list[str] = []
    for n in names:
        if n not in oracled:
            lg, status = "—", "rows-only by design (pytest accuracy contract)"
        elif n in last_green:
            lg = f"r{last_green[n]:02d}"
            if n in window:
                status = f"r{cur:02d} window (re-verify)"
            elif not fresh:
                status = "STALE GREEN (source changed since the sweep; re-sweep!)"
                stale.append(n)
            else:
                status = "green, unchanged"
        else:
            lg = "never"
            if n in window:
                status = f"r{cur:02d} window (first check)"
            else:
                status = "BACKLOG"
                backlog.append(n)
        rows.append((n, lg, status))
    return rows, backlog, stale


def main() -> None:
    from impala_refresher_spark.queries import ORACLES, QUERIES, last_green_rounds

    corr_files = glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json"))
    last_green = last_green_rounds(ROOT)
    cur = max(
        (int(re.search(r"_r(\d+)\.json$", p).group(1)) for p in corr_files),
        default=0,
    ) + 1

    # The registry order is the next driver window (queries.py).
    names = list(QUERIES)
    window = set(names[:50])
    fresh, why = cert_current(load_cert(), set(ORACLES), _package_hash())

    lines = [
        HEADING,
        "",
        f"Generated from {len(corr_files)} CORRECTNESS files by "
        "`scripts/gen_ledger.py`; regenerate after each round. "
        f"`r{cur:02d}` rows are scheduled in the current round's driver "
        "window (registry slots 1-50; the registry is ordered oldest "
        "driver evidence first, see `queries.py`). Policy: any change to "
        "the package sources must be re-verified by a full-registry "
        "`driver_sim.py --vanilla` sweep — ENFORCED by SWEEP_CERT.json: "
        "\"green, unchanged\" additionally asserts that the cert covers "
        "every oracled query with 0 failures and that its package hash "
        "matches the sources on disk. The BACKLOG and STALE GREEN "
        "statuses must never appear.",
        "",
        "| Query | Last driver-green | Status |",
        "|---|---|---|",
    ]
    rows, backlog, stale = compute_statuses(
        names, set(ORACLES), last_green, fresh, window, cur
    )
    for n, lg, status in rows:
        lines.append(f"| `{n}` | {lg} | {status} |")

    cov_path = os.path.join(ROOT, "COVERAGE.md")
    text = open(cov_path).read()
    idx = text.find(HEADING)
    base = text[:idx].rstrip() + "\n\n" if idx >= 0 else text.rstrip() + "\n\n"
    open(cov_path, "w").write(base + "\n".join(lines) + "\n")
    print(f"ledger: {len(names)} queries, {len(last_green)} ever-green, "
          f"window={len(window & set(names))}, backlog={len(backlog)}, "
          f"stale={len(stale)}")
    if backlog or stale:
        if backlog:
            print("BACKLOG (oracled, never checked, outside window):", backlog)
        if stale:
            print(f"STALE GREEN (sweep cert not current: {why}):", stale)
        sys.exit(1)


if __name__ == "__main__":
    main()
