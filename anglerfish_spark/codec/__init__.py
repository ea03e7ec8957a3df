from .decoder import decode_json, decode_json_python
from .pydecode import decode_datum

__all__ = ["decode_json", "decode_json_python", "decode_datum"]
