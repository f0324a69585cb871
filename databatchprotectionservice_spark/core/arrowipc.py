"""Arrow IPC readers: pyarrow's own reader behind one validated entry.

Both readers parse in-memory bytes with ``pyarrow.ipc``, then run
``Table.validate(full=True)``, so offsets, dictionary indices, decimal
precision and UTF-8 are checked before a table is returned.  Any
``pa.ArrowException`` or ``OSError`` becomes :class:`ArrowIpcFormatError`;
the input is a ``BufferReader``, so an ``OSError`` can only come from
parsing.  Writers are ``pyarrow.ipc.new_file`` / ``new_stream``.

Known hazard: pyarrow 16.1 can abort the process (``std::bad_alloc``)
on some corrupted record batches.  No product path reads Arrow IPC from
outside; the registry queries read only bytes their own task wrote.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.ipc as ipc

from .errors import DBPSInvalidInputError


class ArrowIpcFormatError(DBPSInvalidInputError):
    """Malformed or inconsistent Arrow IPC input."""


def _read(open_reader, data: bytes) -> pa.Table:
    try:
        table = open_reader(pa.BufferReader(data)).read_all()
        table.validate(full=True)
    except (pa.ArrowException, OSError) as e:
        raise ArrowIpcFormatError(str(e)) from e
    return table


def read_arrow_ipc(data: bytes) -> pa.Table:
    """Read an Arrow IPC FILE (Feather V2); one chunk per record batch."""
    return _read(ipc.open_file, data)


def read_arrow_stream(data: bytes) -> pa.Table:
    """Read an Arrow IPC STREAM; one chunk per record batch."""
    return _read(ipc.open_stream, data)
