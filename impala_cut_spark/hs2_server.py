"""TCLIService (HiveServer2) over the real thrift binary wire protocol.

The reference's second client surface
(``be/src/service/impala-hs2-server.cc``; IDL
``common/thrift/cli_service.thrift``).  The structs are hand-mapped
from the IDL onto the from-scratch TBinaryProtocol (thrift_proto.py),
so a generated TCLIService client — the thing an Impala JDBC/ODBC
driver is — interoperates byte-for-byte.  The operation cursor, handle
table, service loop and client call framing are shared with the
Beeswax port (service.py); this module keeps the TCLIService structs,
replies and status mapping.

Sessions: OpenSession's configuration is leased to the session
(ImpalaSession.lease_options) until CloseSession or disconnect, which
also close the session's open operations (CloseSessionInternal).

Protocol negotiation: OpenSession clamps the client's requested
TProtocolVersion to V6.  V6+ sessions get columnar TRowSets
(list<TColumn> with per-column nulls bitmaps — what a current
JDBC/ODBC driver expects); V1-V5 sessions keep the row-oriented
TRowSet the reference era served.

Method surface: OpenSession / CloseSession / GetInfo /
ExecuteStatement / GetOperationStatus / FetchResults (FETCH_NEXT +
FETCH_FIRST cursor restart) /
GetResultSetMetadata / CloseOperation / CancelOperation / GetLog and
the JDBC metadata operations GetCatalogs / GetSchemas / GetTables /
GetTableTypes / GetColumns / GetTypeInfo / GetFunctions (each returns
an operation whose result set follows the JDBC column conventions, fed
from the Spark catalog).

Value rendering follows impala-hs2-server.cc:852-930: integer types →
their exact TColumnValue arm, FLOAT/DOUBLE → doubleVal, TIMESTAMP /
STRING / DECIMAL → stringVal; NULL = the optional value field unset.
"""

from __future__ import annotations

import re
import struct
from typing import Any

from impala_cut_spark import thrift_proto as tp
from impala_cut_spark.service import Operation, ThriftClient, ThriftServer

# TTypeId enum positions (cli_service.thrift)
_TYPE_IDS = {
    "boolean": 0, "tinyint": 1, "smallint": 2, "int": 3, "bigint": 4,
    "float": 5, "double": 6, "string": 7, "timestamp": 8, "binary": 9,
}
DECIMAL_TYPE_ID = 15

#: Spark simpleString dtype → (TColumnValue union field id, writer)
_VALUE_ARMS: dict[str, tuple[int, int]] = {
    "boolean": (1, tp.BOOL),
    "tinyint": (2, tp.BYTE),
    "smallint": (3, tp.I16),
    "int": (4, tp.I32),
    "bigint": (5, tp.I64),
    "float": (6, tp.DOUBLE),
    "double": (6, tp.DOUBLE),
}

SUCCESS, ERROR_STATUS, INVALID_HANDLE = 0, 3, 4
FINISHED_STATE, ERROR_STATE = 2, 5
OP_EXECUTE = 0
FETCH_NEXT = 0
FETCH_FIRST = 4  # TFetchOrientation — restart the result cursor
#: TProtocolVersion enum values (cli_service.thrift). V6 is the
#: columnar-TRowSet generation a current JDBC/ODBC driver negotiates;
#: the server accepts any requested version and clamps to V6.
PROTOCOL_V1 = 0
PROTOCOL_V6 = 5


class HS2Error(Exception):
    def __init__(self, message: str, code: int = ERROR_STATUS):
        super().__init__(message)
        self.code = code


def _type_id(dtype: str) -> int:
    if dtype.startswith("decimal"):
        return DECIMAL_TYPE_ID
    return _TYPE_IDS.get(dtype, _TYPE_IDS["string"])


def _like_to_regex(pattern: str | None) -> re.Pattern:
    """JDBC metadata patterns: % = any, _ = one char, None = all."""
    if pattern in (None, "", "%"):
        return re.compile(".*", re.IGNORECASE)
    esc = re.escape(pattern).replace("%", ".*").replace("_", ".")
    return re.compile(f"^{esc}$", re.IGNORECASE)


class HS2ThriftServer(ThriftServer):
    """Threaded TCP TCLIService around one ImpalaSession.  Handles are
    16-byte guids; a session entry holds its negotiated
    TProtocolVersion (V6 clients get columnar TRowSets, V1-V5
    row-oriented ones) and owns its operations."""

    @staticmethod
    def handle_key(n: int) -> bytes:
        return struct.pack(">QQ", 0, n)

    # -- wire helpers ------------------------------------------------------

    @staticmethod
    def _status(w: tp.BinaryWriter, code: int = SUCCESS, message: str | None = None) -> None:
        w.field(tp.STRUCT, 1)  # resp.status
        w.field(tp.I32, 1)
        w.write_i32(code)
        if message is not None:
            w.field(tp.STRING, 5)
            w.write_string(message)
        w.stop()

    @staticmethod
    def _handle_struct(w: tp.BinaryWriter, fid: int, guid: bytes, op_type: int | None = None) -> None:
        w.field(tp.STRUCT, fid)
        w.field(tp.STRUCT, 1)  # THandleIdentifier
        w.field(tp.STRING, 1)
        w.write_string(guid)
        w.field(tp.STRING, 2)
        w.write_string(b"\x00" * 16)
        w.stop()
        if op_type is not None:  # TOperationHandle extras
            w.field(tp.I32, 2)
            w.write_i32(op_type)
            w.field(tp.BOOL, 3)
            w.write_bool(True)
        w.stop()

    @staticmethod
    def _read_guid(args: dict[int, Any], fid: int = 1) -> bytes:
        h = args.get(fid, {})
        ident = h.get(1, {}) if isinstance(h, dict) else {}
        return ident.get(1, b"") if isinstance(ident, dict) else b""

    def _register(self, w: tp.BinaryWriter, req: dict, op: Operation, op_type: int) -> None:
        """Add an operation owned by the request's session (field 1)
        and reply with its handle."""
        guid = self.handles.register(op, owner=self._read_guid(req))
        if guid is None:
            raise HS2Error("Invalid session handle", INVALID_HANDLE)
        self._status(w)
        self._handle_struct(w, 2, guid, op_type)

    def _op(self, args: dict[int, Any]) -> Operation:
        o = self.handles.get(self._read_guid(args))
        if o is None:
            raise HS2Error("Invalid operation handle", INVALID_HANDLE)
        return o

    # -- dispatch ----------------------------------------------------------

    def _reply(self, name: str, seqid: int, fn, args: dict[int, Any]) -> bytes:
        w = tp.BinaryWriter()
        w.message_begin(name, tp.REPLY, seqid)
        w.field(tp.STRUCT, 0)  # resp struct
        try:
            req = args.get(1, {})
            fn(w, req if isinstance(req, dict) else {})
        except HS2Error as e:
            w = tp.BinaryWriter()
            w.message_begin(name, tp.REPLY, seqid)
            w.field(tp.STRUCT, 0)
            self._status(w, e.code, str(e))
        except Exception as e:  # noqa: BLE001 — analysis errors → TStatus
            w = tp.BinaryWriter()
            w.message_begin(name, tp.REPLY, seqid)
            w.field(tp.STRUCT, 0)
            self._status(w, ERROR_STATUS, f"{type(e).__name__}: {e}")
        w.stop()  # resp struct
        w.stop()  # method-result struct
        return w.bytes()

    # -- session lifecycle -------------------------------------------------

    def _m_OpenSession(self, w: tp.BinaryWriter, req: dict) -> None:
        # negotiate: serve the client's version, clamped to V6 (the
        # highest generation implemented; thrift enums are ordered so
        # min() is the correct handshake on both sides)
        try:
            requested = int(req.get(1, PROTOCOL_V1) or 0)
        except (TypeError, ValueError):
            requested = PROTOCOL_V1
        proto = min(requested, PROTOCOL_V6)
        guid = self.handles.register(proto, owner=self._conn_handle())
        # TOpenSessionReq.configuration scopes to THIS session in the
        # reference (impala-hs2-server.cc OpenSession →
        # session_state->default_query_options)
        for k, v in (req.get(4) or {}).items():
            try:
                self.session.lease_options(guid, [(k.decode(), v.decode())])
            except Exception:  # noqa: BLE001 — unknown conf keys are advisory
                pass
        self._status(w)
        w.field(tp.I32, 2)
        w.write_i32(proto)
        self._handle_struct(w, 3, guid)

    def _m_CloseSession(self, w: tp.BinaryWriter, req: dict) -> None:
        self.close_handle(self._read_guid(req), int)
        self._status(w)

    def _m_GetInfo(self, w: tp.BinaryWriter, req: dict) -> None:
        info_type = req.get(2, 0)
        value = {17: "Impala (impala_cut_spark)", 18: "1.0", 13: "impala_cut_spark"}.get(
            info_type, ""
        )
        self._status(w)
        w.field(tp.STRUCT, 2)  # TGetInfoValue union: stringValue
        w.field(tp.STRING, 1)
        w.write_string(value)
        w.stop()

    # -- statements --------------------------------------------------------

    def _m_ExecuteStatement(self, w: tp.BinaryWriter, req: dict) -> None:
        sql = req.get(2, b"").decode()
        self._register(w, req, Operation.from_df(self.session.sql(sql)), OP_EXECUTE)

    def _m_GetOperationStatus(self, w: tp.BinaryWriter, req: dict) -> None:
        self._op(req)
        self._status(w)
        w.field(tp.I32, 2)
        w.write_i32(FINISHED_STATE)

    def _m_CancelOperation(self, w: tp.BinaryWriter, req: dict) -> None:
        self._op(req)  # synchronous execution: nothing to cancel
        self._status(w)

    def _m_CloseOperation(self, w: tp.BinaryWriter, req: dict) -> None:
        if self.close_handle(self._read_guid(req)) is None:
            raise HS2Error("Invalid operation handle", INVALID_HANDLE)
        self._status(w)

    def _m_GetLog(self, w: tp.BinaryWriter, req: dict) -> None:
        self._op(req)
        self._status(w)
        w.field(tp.STRING, 2)
        w.write_string("")

    def _m_GetResultSetMetadata(self, w: tp.BinaryWriter, req: dict) -> None:
        o = self._op(req)
        self._status(w)
        w.field(tp.STRUCT, 2)  # TTableSchema
        w.field(tp.LIST, 1)
        w.list_begin(tp.STRUCT, len(o.columns))
        for pos, (name, dtype) in enumerate(o.columns):
            w.field(tp.STRING, 1)
            w.write_string(name)
            w.field(tp.STRUCT, 2)  # TTypeDesc
            w.field(tp.LIST, 1)
            w.list_begin(tp.STRUCT, 1)
            w.field(tp.STRUCT, 1)  # TTypeEntry union: primitiveEntry
            w.field(tp.I32, 1)
            w.write_i32(_type_id(dtype))
            w.stop()
            w.stop()  # TTypeEntry
            w.stop()  # TTypeDesc
            w.field(tp.I32, 3)
            w.write_i32(pos)
            w.stop()  # TColumnDesc
        w.stop()  # TTableSchema

    @staticmethod
    def _write_scalar(w: tp.BinaryWriter, wire: int, v) -> None:
        if wire == tp.BOOL:
            w.write_bool(bool(v))
        elif wire == tp.BYTE:
            w.write_byte(int(v))
        elif wire == tp.I16:
            w.write_i16(int(v))
        elif wire == tp.I32:
            w.write_i32(int(v))
        elif wire == tp.I64:
            w.write_i64(int(v))
        elif wire == tp.DOUBLE:
            w.write_double(float(v))
        else:
            w.write_string(str(v))

    #: TColumn union default slot values for NULL positions (columnar
    #: TRowSets store a placeholder plus a set bit in the nulls bitmap)
    _NULL_SLOT = {tp.BOOL: False, tp.BYTE: 0, tp.I16: 0, tp.I32: 0,
                  tp.I64: 0, tp.DOUBLE: 0.0, tp.STRING: ""}

    def _m_FetchResults(self, w: tp.BinaryWriter, req: dict) -> None:
        orientation = req.get(2, FETCH_NEXT)
        o = self._op(req)
        if orientation == FETCH_FIRST:
            o.rewind()  # re-run the bounded fetch cursor from row 0
        elif orientation != FETCH_NEXT:
            raise HS2Error("only FETCH_NEXT and FETCH_FIRST are supported")
        start_row, rows = o.fetch(int(req.get(3, 0)))
        self._status(w)
        w.field(tp.BOOL, 2)
        w.write_bool(not o.eos)
        w.field(tp.STRUCT, 3)  # TRowSet
        w.field(tp.I64, 1)
        w.write_i64(start_row)
        proto = self.handles.get(self.handles.owner(self._read_guid(req)), int)
        if proto is not None and proto >= PROTOCOL_V6:
            # columnar generation: rows (required field) stays empty,
            # values ride list<TColumn> at field 3 — one T<X>Column
            # {1: values, 2: nulls bitmap (LSB-first, 1 = NULL)} per
            # column, with NULL positions holding a default slot
            w.field(tp.LIST, 2)
            w.list_begin(tp.STRUCT, 0)
            w.field(tp.LIST, 3)
            w.list_begin(tp.STRUCT, len(o.columns))
            for ci, (_, dtype) in enumerate(o.columns):
                arm, wire = _VALUE_ARMS.get(dtype, (7, tp.STRING))
                nulls = bytearray((len(rows) + 7) // 8)
                w.field(tp.STRUCT, arm)  # TColumn union arm
                w.field(tp.LIST, 1)
                w.list_begin(wire, len(rows))
                for ri, row in enumerate(rows):
                    v = row[ci]
                    if v is None:
                        nulls[ri // 8] |= 1 << (ri % 8)
                        v = self._NULL_SLOT[wire]
                    self._write_scalar(w, wire, v)
                w.field(tp.STRING, 2)
                w.write_string(bytes(nulls))
                w.stop()  # T<X>Column
                w.stop()  # TColumn
            w.stop()  # TRowSet
            return
        w.field(tp.LIST, 2)
        w.list_begin(tp.STRUCT, len(rows))
        for row in rows:
            w.field(tp.LIST, 1)
            w.list_begin(tp.STRUCT, len(o.columns))
            for v, (_, dtype) in zip(row, o.columns):
                arm, wire = _VALUE_ARMS.get(dtype, (7, tp.STRING))
                w.field(tp.STRUCT, arm)  # TColumnValue union field
                if v is not None:  # NULL = optional value unset
                    w.field(wire, 1)
                    self._write_scalar(w, wire, v)
                w.stop()  # TIxxValue
                w.stop()  # TColumnValue
            w.stop()  # TRow
        w.stop()  # TRowSet

    # -- JDBC metadata operations -----------------------------------------

    def _meta_op(self, w: tp.BinaryWriter, req: dict, op_type: int,
                 columns: list[tuple[str, str]], rows: list[tuple]) -> None:
        self._register(w, req, Operation(columns, lambda: rows), op_type)

    def _m_GetCatalogs(self, w: tp.BinaryWriter, req: dict) -> None:
        self._meta_op(w, req, 2, [("TABLE_CAT", "string")], [])

    def _m_GetSchemas(self, w: tp.BinaryWriter, req: dict) -> None:
        pat = _like_to_regex((req.get(3) or b"%").decode())
        dbs = sorted(d.name for d in self.session.spark.catalog.listDatabases())
        rows = [(d, "") for d in dbs if pat.match(d)]
        self._meta_op(w, req, 3, [("TABLE_SCHEM", "string"), ("TABLE_CATALOG", "string")], rows)

    def _m_GetTables(self, w: tp.BinaryWriter, req: dict) -> None:
        schema_pat = _like_to_regex((req.get(3) or b"%").decode())
        table_pat = _like_to_regex((req.get(4) or b"%").decode())
        rows = []
        for db in self.session.spark.catalog.listDatabases():
            if not schema_pat.match(db.name):
                continue
            for t in self.session.spark.catalog.listTables(db.name):
                if table_pat.match(t.name):
                    ttype = "VIEW" if t.tableType in ("TEMPORARY", "VIEW") else "TABLE"
                    rows.append(("", db.name, t.name, ttype, ""))
        rows.sort(key=lambda r: (r[1], r[2]))
        self._meta_op(
            w, req, 4,
            [("TABLE_CAT", "string"), ("TABLE_SCHEM", "string"), ("TABLE_NAME", "string"),
             ("TABLE_TYPE", "string"), ("REMARKS", "string")],
            rows,
        )

    def _m_GetTableTypes(self, w: tp.BinaryWriter, req: dict) -> None:
        self._meta_op(w, req, 5, [("TABLE_TYPE", "string")], [("TABLE",), ("VIEW",)])

    def _m_GetColumns(self, w: tp.BinaryWriter, req: dict) -> None:
        schema_pat = _like_to_regex((req.get(3) or b"%").decode())
        table_pat = _like_to_regex((req.get(4) or b"%").decode())
        col_pat = _like_to_regex((req.get(5) or b"%").decode())
        rows = []
        for db in self.session.spark.catalog.listDatabases():
            if not schema_pat.match(db.name):
                continue
            for t in self.session.spark.catalog.listTables(db.name):
                if not table_pat.match(t.name):
                    continue
                for pos, c in enumerate(
                    self.session.spark.catalog.listColumns(t.name, db.name if not t.isTemporary else None)
                ):
                    if col_pat.match(c.name):
                        rows.append(
                            ("", db.name, t.name, c.name, _type_id(c.dataType),
                             c.dataType.upper(), pos + 1)
                        )
        rows.sort(key=lambda r: (r[1], r[2], r[6]))
        self._meta_op(
            w, req, 6,
            [("TABLE_CAT", "string"), ("TABLE_SCHEM", "string"), ("TABLE_NAME", "string"),
             ("COLUMN_NAME", "string"), ("DATA_TYPE", "int"), ("TYPE_NAME", "string"),
             ("ORDINAL_POSITION", "int")],
            rows,
        )

    def _m_GetTypeInfo(self, w: tp.BinaryWriter, req: dict) -> None:
        rows = [(name.upper(), tid) for name, tid in sorted(_TYPE_IDS.items(), key=lambda kv: kv[1])]
        rows.append(("DECIMAL", DECIMAL_TYPE_ID))
        self._meta_op(w, req, 1, [("TYPE_NAME", "string"), ("DATA_TYPE", "int")], rows)

    def _m_GetFunctions(self, w: tp.BinaryWriter, req: dict) -> None:
        pat = _like_to_regex((req.get(4) or b"%").decode())
        from impala_cut_spark.dialect import CALL_REWRITES

        names = sorted(n for n in CALL_REWRITES if pat.match(n))
        self._meta_op(
            w, req, 7,
            [("FUNCTION_CAT", "string"), ("FUNCTION_SCHEM", "string"),
             ("FUNCTION_NAME", "string")],
            [("", "", n) for n in names],
        )


class HS2ThriftClient(ThriftClient):
    """Minimal TCLIService TBinaryProtocol client (what a JDBC driver
    is, reduced to the tested surface)."""

    def __init__(self, host: str, port: int, user: str | None = None, password: str = ""):
        super().__init__(host, port, user, password)
        self.session: bytes | None = None
        self.proto = PROTOCOL_V1  # negotiated at open_session

    def _call(self, name: str, build_req) -> dict[int, Any]:
        def build_args(w: tp.BinaryWriter) -> None:
            w.field(tp.STRUCT, 1)  # req struct at field 1
            build_req(w)
            w.stop()

        resp = self._roundtrip(name, build_args)[0]
        status = resp.get(1, {})
        if status.get(1, 0) != SUCCESS:
            raise HS2Error(status.get(5, b"").decode() or "HS2 error", status.get(1))
        return resp

    @staticmethod
    def _handle_req(guid: bytes, fid: int = 1):
        def build(w: tp.BinaryWriter) -> None:
            w.field(tp.STRUCT, fid)
            w.field(tp.STRUCT, 1)
            w.field(tp.STRING, 1)
            w.write_string(guid)
            w.field(tp.STRING, 2)
            w.write_string(b"\x00" * 16)
            w.stop()
            w.stop()

        return build

    def open_session(
        self,
        configuration: dict[str, str] | None = None,
        protocol: int = PROTOCOL_V6,
    ) -> bytes:
        def build(w: tp.BinaryWriter) -> None:
            w.field(tp.I32, 1)
            w.write_i32(protocol)
            if configuration:
                w.field(tp.MAP, 4)
                w.map_begin(tp.STRING, tp.STRING, len(configuration))
                for k, v in configuration.items():
                    w.write_string(k)
                    w.write_string(v)

        resp = self._call("OpenSession", build)
        self.proto = resp.get(2, PROTOCOL_V1)  # server-negotiated version
        self.session = resp[3][1][1]
        return self.session

    def close_session(self) -> None:
        self._call("CloseSession", self._handle_req(self.session))

    def execute(self, sql: str) -> bytes:
        def build(w: tp.BinaryWriter) -> None:
            self._handle_req(self.session)(w)
            w.field(tp.STRING, 2)
            w.write_string(sql)

        return self._call("ExecuteStatement", build)[2][1][1]

    def operation_state(self, op: bytes) -> int:
        return self._call("GetOperationStatus", self._handle_req(op))[2]

    def metadata(self, op: bytes) -> list[tuple[str, int]]:
        schema = self._call("GetResultSetMetadata", self._handle_req(op))[2]
        return [(c[1].decode(), c[2][1][0][1][1]) for c in schema[1]]

    def fetch(
        self, op: bytes, max_rows: int = 1024, orientation: int = FETCH_NEXT
    ) -> dict:
        def build(w: tp.BinaryWriter) -> None:
            self._handle_req(op)(w)
            w.field(tp.I32, 2)
            w.write_i32(orientation)
            w.field(tp.I64, 3)
            w.write_i64(max_rows)

        resp = self._call("FetchResults", build)
        rowset = resp.get(3, {})
        rows: list[tuple] = []
        if rowset.get(3):
            # columnar TRowSet (V6+): transpose list<TColumn>, applying
            # each column's nulls bitmap (LSB-first, 1 = NULL)
            cols = []
            for tcol in rowset[3]:
                (_, inner) = next(iter(tcol.items()))
                values = inner.get(1, [])
                nulls = inner.get(2, b"")
                col = []
                for i, v in enumerate(values):
                    if i // 8 < len(nulls) and nulls[i // 8] & (1 << (i % 8)):
                        col.append(None)
                    else:
                        col.append(v.decode() if isinstance(v, bytes) else v)
                cols.append(col)
            rows = [tuple(r) for r in zip(*cols)] if cols else []
        else:
            for trow in rowset.get(2, []):
                vals = []
                for cv in trow[1]:
                    (arm, inner) = next(iter(cv.items())) if cv else (7, {})
                    v = inner.get(1) if isinstance(inner, dict) else None
                    if isinstance(v, bytes):
                        v = v.decode()
                    vals.append(v)
                rows.append(tuple(vals))
        return {
            "rows": rows,
            "start_row": rowset.get(1, 0),
            "has_more": resp.get(2, False),
        }

    def fetch_all(self, op: bytes, page: int = 1024) -> list[tuple]:
        out: list[tuple] = []
        while True:
            fr = self.fetch(op, page)
            out.extend(fr["rows"])
            if not fr["has_more"]:
                return out

    def close_operation(self, op: bytes) -> None:
        self._call("CloseOperation", self._handle_req(op))

    def get_tables(self, schema: str = "%", table: str = "%") -> bytes:
        def build(w: tp.BinaryWriter) -> None:
            self._handle_req(self.session)(w)
            w.field(tp.STRING, 3)
            w.write_string(schema)
            w.field(tp.STRING, 4)
            w.write_string(table)

        return self._call("GetTables", build)[2][1][1]

    def get_columns(self, schema: str = "%", table: str = "%", column: str = "%") -> bytes:
        def build(w: tp.BinaryWriter) -> None:
            self._handle_req(self.session)(w)
            w.field(tp.STRING, 3)
            w.write_string(schema)
            w.field(tp.STRING, 4)
            w.write_string(table)
            w.field(tp.STRING, 5)
            w.write_string(column)

        return self._call("GetColumns", build)[2][1][1]

    def get_info(self, info_type: int) -> str:
        def build(w: tp.BinaryWriter) -> None:
            self._handle_req(self.session)(w)
            w.field(tp.I32, 2)
            w.write_i32(info_type)

        return self._call("GetInfo", build)[2][1].decode()
