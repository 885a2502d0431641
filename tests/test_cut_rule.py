"""Every lineage cut in the engine goes through `session.cut`.

A direct `.localCheckpoint(` call outside `session.py` must state why
it is not a `cut`: a `# cut:` comment on its line or the line above,
with the measured number that keeps it direct."""

from __future__ import annotations

import pathlib
import re

_ROOT = pathlib.Path(__file__).resolve().parent.parent
_CALL = re.compile(r"\.localCheckpoint\(")
_REASON = re.compile(r"#\s*cut:")


def _unreasoned_calls(path: pathlib.Path) -> list[int]:
    """Line numbers of direct calls in `path` with no `# cut:` reason."""
    lines = path.read_text().splitlines()
    out = []
    for i, line in enumerate(lines):
        if not _CALL.search(line.split("#", 1)[0]):
            continue
        above = lines[i - 1] if i else ""
        if not (_REASON.search(line) or _REASON.search(above)):
            out.append(i + 1)
    return out


def test_every_direct_local_checkpoint_states_its_reason():
    bad = [f"{path.relative_to(_ROOT)}:{n}"
           for sub in ("cloud_native_mapreduce_spark", "tools")
           for path in sorted((_ROOT / sub).rglob("*.py"))
           if path.name != "session.py"
           for n in _unreasoned_calls(path)]
    assert bad == []


def test_the_scan_sees_a_call_without_a_reason(tmp_path):
    src = tmp_path / "mod.py"
    src.write_text(
        "a = (df\n"
        "     .localCheckpoint(eager=True))\n"
        "# cut: eager, 3 jobs fewer at sf0.01\n"
        "b = df.localCheckpoint()\n"
        "c = df.localCheckpoint(False)  # cut: lazy under AQE, 1.2 s faster\n"
        "# localCheckpoint( in a comment is no call\n")
    assert _unreasoned_calls(src) == [2]
