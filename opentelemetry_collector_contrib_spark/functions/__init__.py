from .ottl import OTTL_FUNCTIONS  # noqa: F401
