"""`dump-objects` — human-readable heap-dump record printer (A23).

Parity with the reference's debug command
(/root/reference/src/commands/dump_objects.rs:10-170, main.rs:21-22):
stream every heap sub-record to stdout with resolved class/field
names. Sequential text output is inherently single-stream, so this is
pure Python over the driver index — no Spark job. Unlike the
reference it does NOT build an obj→class map over the whole heap
(that is the O(heap)-driver-memory anti-pattern); references print as
bare ids, exactly like the robo-mode warehouse stores them.
"""

from __future__ import annotations

import sys

from . import hprof as H
from .index import build_index


def _fmt_value(code: int, v):
    if code == H.T_OBJECT:
        return f"ref -> {v}" if v else "ref -> null"
    if code == H.T_BOOLEAN:
        return "true" if v else "false"
    return str(v)


def dump_objects(path: str, out=None, limit: int | None = None,
                 max_elems: int = 8, strict: bool = True) -> int:
    """Print class/instance/array/root sub-records; returns the number
    printed. *limit* caps output (huge dumps); *max_elems* truncates
    array element listings."""
    out = out or sys.stdout
    idx = build_index(path, strict=strict)
    id_size = idx.header.id_size
    g = H.SUB_RECORDS[id_size]
    n_printed = 0

    layouts = {
        cid: (info.name, [(f.name, f.type_code) for f in info.layout])
        for cid, info in idx.classes.items()
    }

    def emit(line: str) -> bool:
        nonlocal n_printed
        out.write(line + "\n")
        n_printed += 1
        return limit is not None and n_printed >= limit

    with open(path, "rb") as f:
        for start, end in idx.splits:
            f.seek(start)
            buf = f.read(end - start)
            pos, n = 0, end - start
            while pos < n:
                tag, p, meta = H.skip_sub_record(buf, pos, id_size)
                if tag == H.SUB_CLASS_DUMP:
                    info = meta["class_info"]
                    name = idx.class_name(info.class_obj_id)
                    lines = [f"id {info.class_obj_id}: class {name}"]
                    for name_id, t, v in info.static_fields:
                        fname = idx.strings.get(name_id, f"field_{name_id:x}")
                        tname = "Object" if t == H.T_OBJECT else H.PRIM_NAMES[t]
                        lines.append(f"  static {tname} {fname} = {_fmt_value(t, v)}")
                    if emit("\n".join(lines)):
                        return n_printed
                elif tag == H.SUB_INSTANCE_DUMP:
                    oid, _, cid, _ = g.header[tag].unpack_from(buf, pos + 1)
                    body = pos + g.payload[tag]
                    if cid in layouts:
                        cname, fields = layouts[cid]
                        lines = [f"id {oid}: {cname}"]
                        q = body
                        for fname, t in fields:
                            v, nb = H._read_value(buf, q, t, id_size)
                            q += nb
                            tname = "Object" if t == H.T_OBJECT else H.PRIM_NAMES[t]
                            lines.append(f"  {tname} {fname} = {_fmt_value(t, v)}")
                    else:
                        lines = [f"id {oid}: (unresolved class {cid})"]
                    if emit("\n".join(lines)):
                        return n_printed
                elif tag == H.SUB_PRIMITIVE_ARRAY_DUMP:
                    oid, _, cnt, t = g.header[tag].unpack_from(buf, pos + 1)
                    body = pos + g.payload[tag]
                    shown = []
                    q = body
                    for _ in range(min(cnt, max_elems)):
                        v, nb = H._read_value(buf, q, t, id_size)
                        q += nb
                        shown.append(_fmt_value(t, v))
                    suffix = ", ..." if cnt > max_elems else ""
                    if emit(
                        f"id {oid}: {H.PRIM_NAMES[t]}[{cnt}] "
                        f"[{', '.join(shown)}{suffix}]"
                    ):
                        return n_printed
                elif tag == H.SUB_OBJECT_ARRAY_DUMP:
                    oid, _, cnt, acid = g.header[tag].unpack_from(buf, pos + 1)
                    body = pos + g.payload[tag]
                    els = [
                        str(H._read_id(buf, body + i * id_size, id_size))
                        for i in range(min(cnt, max_elems))
                    ]
                    suffix = ", ..." if cnt > max_elems else ""
                    aname = idx.class_name(acid)
                    if emit(f"id {oid}: {aname}[{cnt}] [{', '.join(els)}{suffix}]"):
                        return n_printed
                elif tag in H.ROOT_NAMES:
                    oid = H._read_id(buf, pos + 1, id_size)
                    if emit(f"root {H.ROOT_NAMES[tag]}: {oid}"):
                        return n_printed
                pos = p
    return n_printed
