"""Error taxonomy for quarantine rows.

Re-expresses the reference's error-code contract (see
`office-to-markdown/src/utils/error-handler.ts:14-42` — ErrorCode enum —
and the classify-by-exception-then-message logic at
`error-handler.ts:96-221`) as plain string codes carried on output rows.
Extraction NEVER throws out of the batch UDF: every input row yields
exactly one output row (cardinality invariant, cf. `index.ts:243-251`),
with ``status`` either ``"ok"`` or one of these codes.
"""

from __future__ import annotations

# -- codes (parity with reference ErrorCode enum) ---------------------------
FILE_NOT_FOUND = "FILE_NOT_FOUND"
FILE_TOO_LARGE = "FILE_TOO_LARGE"
EMPTY_FILE = "EMPTY_FILE"
UNSUPPORTED_FORMAT = "UNSUPPORTED_FORMAT"
CORRUPTED_FILE = "CORRUPTED_FILE"
INVALID_PDF = "INVALID_PDF"
INVALID_DOCX = "INVALID_DOCX"
PREPROCESSING_FAILED = "PREPROCESSING_FAILED"
CONVERSION_FAILED = "CONVERSION_FAILED"
VALIDATION_FAILED = "VALIDATION_FAILED"
TIMEOUT = "TIMEOUT"
NETWORK_ERROR = "NETWORK_ERROR"
GENERAL_ERROR = "GENERAL_ERROR"

ALL_CODES = (
    FILE_NOT_FOUND, FILE_TOO_LARGE, EMPTY_FILE, UNSUPPORTED_FORMAT,
    CORRUPTED_FILE, INVALID_PDF, INVALID_DOCX, PREPROCESSING_FAILED,
    CONVERSION_FAILED, VALIDATION_FAILED, TIMEOUT, NETWORK_ERROR,
    GENERAL_ERROR,
)

# retryable set (reference: NETWORK/TIMEOUT/ACCESS recoverable,
# `error-handler.ts:312-323`)
RECOVERABLE = frozenset({TIMEOUT, NETWORK_ERROR})


class ExtractError(Exception):
    """Carries a taxonomy code + phase through the kernel call stack.

    Mirrors OfficeToMarkdownError{code, context} — phase-tagged like the
    reference's preprocessing / docx-to-html / html-to-markdown phases
    (`error-handler.ts:256-285`).
    """

    def __init__(self, code: str, message: str = "", phase: str = ""):
        super().__init__(message or code)
        self.code = code if code in ALL_CODES else GENERAL_ERROR
        self.phase = phase

    def is_recoverable(self) -> bool:
        return self.code in RECOVERABLE


def classify_exception(exc: BaseException, phase: str = "") -> ExtractError:
    """Map an arbitrary exception to a taxonomy code (message-substring
    classification in the spirit of `error-handler.ts:96-221`)."""
    if isinstance(exc, ExtractError):
        return exc
    msg = str(exc)
    low = msg.lower()
    if isinstance(exc, RecursionError):
        # nesting deeper than the recursive tree walkers reach: the same
        # input fails the same way again, so not TIMEOUT (recoverable)
        code, phase = CONVERSION_FAILED, phase or "depth"
    elif isinstance(exc, FileNotFoundError) or "enoent" in low:
        code = FILE_NOT_FOUND
    elif isinstance(exc, (TimeoutError,)) or "timeout" in low:
        code = TIMEOUT
    elif "zip" in low or "corrupt" in low or "truncated" in low:
        code = CORRUPTED_FILE
    elif "pdf" in low:
        code = INVALID_PDF
    else:
        code = GENERAL_ERROR
    return ExtractError(code, msg, phase)
