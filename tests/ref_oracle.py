"""Load the reference extractor (read-only at /root/reference) as a test
oracle, stubbing its heavyweight runtime deps (neo4j, pypdf,
sentence_transformers) that are absent in this environment and irrelevant to
the pure extraction functions under test.

``load_reference_services`` does the same for the read-side services
module. Both import on first call only: test modules call them from
fixtures, so a missing reference errors exactly the parity tests that
need it while the rest of each module still runs.

Also provides ``RefSession`` — an in-memory stand-in for the Neo4j session
that answers the two read queries the extractor issues (person lookup,
display-name lookup) from the same persons/groups rows our EntityCatalog is
built from, so reference and sage_spark resolve mentions against identical
dimension data.
"""

from __future__ import annotations

import sys
import types
from typing import Any, Optional

REFERENCE_ROOT = "/root/reference"


def load_reference_saia():
    if "app.saia" in sys.modules:
        return sys.modules["app.saia"]
    fake_utils = types.ModuleType("app.utils")
    fake_utils.create_neo4j_driver = lambda *a, **k: None
    fake_utils.open_neo4j_session = lambda *a, **k: None
    fake_utils.NEO4J_DATABASE = None
    fake_utils.generate_embedding = lambda _t: [0.0]
    fake_app = types.ModuleType("app")
    fake_app.__path__ = [f"{REFERENCE_ROOT}/app"]
    sys.modules.setdefault("app", fake_app)
    sys.modules["app.utils"] = fake_utils
    if REFERENCE_ROOT not in sys.path:
        sys.path.insert(0, REFERENCE_ROOT)
    import app.saia as saia  # noqa: PLC0415

    return saia


def load_reference_services():
    if "app.services" in sys.modules:
        return sys.modules["app.services"]
    # services.py imports langchain + the app.utils runtime; stub them
    for name in ("langchain_core", "langchain_core.output_parsers", "langchain_core.prompts", "langchain_groq"):
        mod = types.ModuleType(name)
        sys.modules.setdefault(name, mod)

    class _AnyStub:
        def __init__(self, *a, **k):
            pass

        def __or__(self, other):
            return self

        @classmethod
        def from_template(cls, *a, **k):
            return cls()

    sys.modules["langchain_core.output_parsers"].JsonOutputParser = _AnyStub
    sys.modules["langchain_core.output_parsers"].StrOutputParser = _AnyStub
    sys.modules["langchain_core.prompts"].ChatPromptTemplate = _AnyStub
    sys.modules["langchain_groq"].ChatGroq = _AnyStub
    load_reference_saia()  # installs the app package + fake app.utils
    fake_utils = sys.modules["app.utils"]
    fake_utils.GROQ_API_KEY = None
    fake_utils.GROQ_MODEL = "none"
    fake_utils.EMBEDDING_MODEL = "none"
    import app.services as services  # noqa: PLC0415

    return services


class _Rows:
    def __init__(self, rows):
        self._rows = rows or []

    def data(self):
        return self._rows


class RefSession:
    """Answers the extractor's person-lookup and display-name Cypher reads
    from plain dicts: persons = [{id, name, email, is_user}], groups =
    [{id, name}]."""

    def __init__(self, persons=(), groups=()):
        self.persons = [dict(p) for p in persons]
        self.groups = [dict(g) for g in groups]

    def _person_records(self, value: Optional[str]):
        if not value:
            return []
        needle = str(value).lower()
        out = []
        for p in self.persons:
            keys = {str(p.get("id") or "").lower(), str(p.get("email") or "").lower(), str(p.get("name") or "").lower()}
            if needle in keys - {""}:
                out.append(
                    {
                        "id": p.get("id"),
                        "labels": ["User", "Person"] if p.get("is_user") else ["Person"],
                        "name": p.get("name") or None,
                        "email": p.get("email") or None,
                        "display_name": p.get("name") or p.get("email") or p.get("id"),
                    }
                )
        return out[:5]

    def _display_name(self, entity_id: Optional[str]):
        if not entity_id:
            return None
        for p in self.persons:
            if p.get("id") == entity_id and p.get("name"):
                return p["name"]
        for g in self.groups:
            if g.get("id") == entity_id:
                return g.get("name") or entity_id
        needle = str(entity_id).lower()
        for p in self.persons:
            if str(p.get("email") or "").lower() == needle and p.get("name"):
                return p["name"]
        return entity_id

    def run(self, query: str, **params: Any):
        if "MATCH (p:Person)" in query and "toLower(p.id)" in query:
            return _Rows(self._person_records(params.get("value")))
        if "OPTIONAL MATCH (u:User {id: $entity_id})" in query:
            return _Rows([{"display_name": self._display_name(params.get("entity_id"))}])
        if "UNWIND $entity_ids AS entity_id" in query:
            return _Rows(
                [
                    {"entity_id": eid, "display_name": self._display_name(eid)}
                    for eid in params.get("entity_ids", [])
                ]
            )
        return _Rows([])
