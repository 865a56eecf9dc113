"""Stamp one driver round's certificates into ``CERTIFIED.json``.

Usage::

    python tools/stamp_certified.py CORRECTNESS_r13.json

Run it after a driver round, in the change that follows the commit
adding that round's record. That commit must change nothing under the
package, or its edits would be stamped as certified; the tool refuses
it, as it refuses an uncommitted record. A row certifies unless it carries an error
(R-tier rows report ``no_oracle``) or a hash mismatch. Each certified
query gets ``{round, fingerprint}``: the round number from the file name
and its ``registry._fingerprint`` over the package as it was at the
commit that added the record (``git archive``), so the stamp does not
depend on when the tool runs. A stamp never moves back to an older
round, and names no longer registered are dropped. ``drive_entry.py``
never stamps: a local MATCH is not a driver certificate.
"""

import json
import os
import re
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from cloudtrail_streamer_spark import registry  # noqa: E402


def _git(*args: str) -> list[str]:
    return subprocess.check_output(["git", "-C", ROOT, *args], text=True).split()


def main(path: str) -> None:
    rnd = int(re.search(r"_r(\d+)\.json$", path).group(1))
    with open(path) as fh:
        rows = json.load(fh)
    ok = [n for n, r in rows.items() if r.get("err") in (None, "no_oracle")]
    ok = [n for n in ok if rows[n].get("hash_match") is not False]
    added = _git("log", "--diff-filter=A", "--format=%H", "--", os.path.abspath(path))
    # the record's commit must not edit the package, or those edits would be stamped
    if not added or _git("show", "--name-only", "--format=", added[-1], "--", registry._PKG):
        raise SystemExit(f"commit {path} first, on its own: no {registry._PKG}/ edits with it")
    specs = registry.all_specs()
    stamps = {n: s for n, s in registry._stamps().items() if n in specs}
    with tempfile.TemporaryDirectory() as tree:
        archive = f"git archive {added[-1]} {registry._PKG} | tar -x -C {tree}"
        subprocess.run(archive, shell=True, check=True, cwd=ROOT)
        for name in (n for n in ok if n in specs and stamps.get(n, {}).get("round", 0) <= rnd):
            fp = registry._fingerprint(specs[name].fn.__module__, tree)
            stamps[name] = {"round": rnd, "fingerprint": fp}
    lines = (f"{json.dumps(n)}: {json.dumps(stamps[n])}" for n in sorted(stamps))
    with open(os.path.join(ROOT, "CERTIFIED.json"), "w") as fh:
        fh.write("{\n" + ",\n".join(lines) + "\n}\n")


if __name__ == "__main__":
    main(sys.argv[1])
