"""Dict-shaped API facade — reference R9-R13 response shapes.

The reference's Javalin routes (``Main.java:57-66,93-145``) become plain
Python methods returning the same JSON-shaped dicts; there is deliberately no
HTTP server (SURVEY.md §7 non-goals — the driver tests a library, not a port).
Error mapping follows ``Main.java:100-110,147-169``: invalid ids →
``invalid_book_id``; parse/fetch failures → ``download_failed``; lake write
failures → ``datalake_move_failed``; a table the format's reader refuses
(e.g. a delta log that requires a newer reader version) →
``unsupported_table`` on status, list and delete.
"""

from __future__ import annotations

import datetime as dt

from tscd_datalake_adapter_spark.lake.adapter import (
    IngestFailed,
    InvalidBookId,
    LakeAdapter,
)

def _error(code: str, message: str) -> dict:
    # Error envelope shape of Main.java:162-169.
    return {"error": {"code": code, "message": message}}


class IngestApi:
    def __init__(self, adapter: LakeAdapter):
        self.adapter = adapter

    def ingest(self, book_id: object, raw_text: str, ts: dt.datetime | None = None) -> dict:
        """POST /ingest/{book_id} (``Main.java:93-124``)."""
        ts = ts or dt.datetime.now(dt.timezone.utc)
        try:
            res = self.adapter.ingest_text(book_id, raw_text, ts)
        except InvalidBookId as exc:
            return _error("invalid_book_id", str(exc))
        except IngestFailed as exc:
            return _error("download_failed", str(exc))
        except Exception as exc:  # committer/storage failure
            return _error("datalake_move_failed", str(exc))
        res["status"] = "ingested"
        return res

    def status(self, book_id: object) -> dict:
        """GET /ingest/status/{book_id} (``Main.java:126-136``)."""
        try:
            ok = self.adapter.exists(book_id)
        except InvalidBookId as exc:
            return _error("invalid_book_id", str(exc))
        except NotImplementedError as exc:  # the reader refused the table
            return _error("unsupported_table", str(exc))
        return {
            "book_id": int(str(book_id)),
            "status": "available" if ok else "not_found",
            "backend": self.adapter.backend_label,
        }

    def list(self) -> dict:
        """GET /ingest/list (``Main.java:138-145``)."""
        try:
            books = self.adapter.list_books()
        except NotImplementedError as exc:  # the reader refused the table
            return _error("unsupported_table", str(exc))
        return {
            "count": len(books),
            "books": books,
            "backend": self.adapter.backend_label,
        }

    def delete(self, book_id: object, physical: bool = False) -> dict:
        """DELETE /ingest/{book_id} — the erasure route the reference
        does not have (r11 extension, same response-dict conventions):
        row-level delete of every version of the book on the
        table-format backends; ``physical=True`` also unlinks the bytes
        past retention (the GDPR contract). Not-found deletes report
        status ``not_found`` rather than erroring (idempotent DELETE)."""
        try:
            res = self.adapter.erase_book(book_id, physical=physical)
        except InvalidBookId as exc:
            return _error("invalid_book_id", str(exc))
        except NotImplementedError as exc:  # the reader refused the table
            return _error("unsupported_table", str(exc))
        except FileNotFoundError:
            # idempotent DELETE: a lake with no table yet holds no books
            return {
                "book_id": int(str(book_id)),
                "status": "not_found",
                "deleted_rows": 0,
                "physical": bool(physical),
                "backend": self.adapter.backend_label,
            }
        except ValueError as exc:  # e.g. pending position-delete files
            return _error("delete_failed", str(exc))
        return {
            "book_id": res["book_id"],
            "status": "deleted" if res["deleted_rows"] else "not_found",
            "deleted_rows": res["deleted_rows"],
            "physical": bool(physical),
            "backend": self.adapter.backend_label,
        }

    def health(self) -> dict:
        """GET /health (``Main.java:57-62``)."""
        return {
            "status": "ok",
            "backend": self.adapter.backend_label,
            "lake_root": self.adapter.lake_root,
            "spark_version": self.adapter.spark.version,
        }
