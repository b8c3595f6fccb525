from .laketable import LakeTable

__all__ = ["LakeTable"]
